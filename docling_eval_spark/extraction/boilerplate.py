"""Boilerplate classification over the shallow block features.

From-scratch implementation of the published density-rule approach
(Kohlschütter, Fankhauser, Nejdl — "Boilerplate Detection using Shallow
Text Features", WSDM 2010: the NumWordsRulesClassifier decision rules),
augmented with HTML5 semantic-ancestor signals (article/main promote,
nav/header/footer/aside demote) and a heading-promotion pass, in the
spirit of Readability-style content scoring.

Decision order per block:
  1. boiler semantic ancestor (nav/header/footer/aside/form/figure)
     and no content ancestor            -> boilerplate
  2. content semantic ancestor (article/main)  -> content
  3. link_density > 1/3                        -> boilerplate
  4. density rules on (prev, curr, next) word counts:
       if prev.link_density <= 0.555556:
           content iff curr.words > 16 or next.words > 15 or prev.words > 4
       else:
           content iff curr.words > 40 or next.words > 17
  5. post-pass heading promotion: a heading with link_density <= 1/3
     followed (within 2 blocks) by a content block is content.

The classifier is pure and deterministic — a requirement of the
byte-identical extraction gate (BASELINE.json north_rule).
"""

from __future__ import annotations

from .html_tokenizer import HEADING_TAGS, block_tuples

MAX_LINK_DENSITY = 1.0 / 3.0
PREV_LINK_DENSITY_GATE = 0.555556


def classify_blocks(blocks) -> list[bool]:
    """True = content, False = boilerplate, one label per block of
    `block_tuples` (or `parse_blocks`). Table blocks are never main text.

    Word counts and link density are computed only for the text blocks
    that rule 1 does not already label boilerplate.
    """
    labels = [False] * len(blocks)
    text_pos = []  # positions of the text blocks, for the heading look-ahead
    # pass 1: hard rules. Survivors are the blocks it does not kill:
    # (position, text-block index, words, link_density)
    surv = []
    for i, b in enumerate(blocks):
        if b[1] == "table":
            continue
        text_pos.append(i)
        if b[3] and not b[4]:
            continue
        n = len(b[0])
        ld = b[2] / n if n else 0.0
        if b[4]:
            labels[i] = True
        elif ld > MAX_LINK_DENSITY:
            continue
        surv.append((i, len(text_pos) - 1, len(b[0].split()), ld))

    # pass 2: density rules over the undecided blocks. Neighbors are the
    # nearest blocks NOT hard-killed in pass 1 — nav/footer/link-list blocks
    # must not poison the density context of the article body (they are
    # structurally separate in the DOM; the flat neighbor rule of the WSDM'10
    # classifier assumes neighbors within the same content flow).
    last = len(surv) - 1
    for k, (i, _, words, _) in enumerate(surv):
        if labels[i]:
            continue
        _, _, pw, pld = surv[k - 1] if k else (0, 0, 0, 0.0)
        nw = surv[k + 1][2] if k < last else 0
        if pld <= PREV_LINK_DENSITY_GATE:
            labels[i] = words > 16 or nw > 15 or pw > 4
        else:
            labels[i] = words > 40 or nw > 17

    # heading promotion: only density-rule blocks can be headings labelled
    # boilerplate with link density <= 1/3; the look-ahead reads the next
    # two text blocks' labels as pass 2 left them
    for i, t, _, _ in surv:
        if not labels[i] and blocks[i][1] in HEADING_TAGS:
            labels[i] = any(labels[text_pos[j]]
                            for j in (t + 1, t + 2) if j < len(text_pos))
    return labels


def _main_text(blocks: list[tuple], labels: list[bool]) -> dict:
    content = [b[0] for b, keep in zip(blocks, labels) if keep]
    n_text = len(blocks) - [b[1] for b in blocks].count("table")
    return {"text": "\n\n".join(content), "n_blocks": len(blocks),
            "n_content": len(content), "n_boiler": n_text - len(content)}


def main_text(html: str) -> dict:
    """html string -> {text, n_blocks, n_content, n_boiler}, no per-block
    provenance: the kernel of the extract+score stage.

    Main text = content blocks joined with "\\n\\n" (the block separator
    contract shared with the corpus generator — lossless for texts whose
    paragraphs were split on the same separator).
    """
    blocks = block_tuples(html)
    return _main_text(blocks, classify_blocks(blocks))


def extract_main_text(html: str) -> dict:
    """main_text's fields plus per-block provenance: tables (captured
    <table> subtrees, for TEDS) and spans, per-block rows (block_idx, tag,
    is_content, kind, n_chars, words, link_density) — the rebuild analog
    of the reference's span rows.
    """
    blocks = block_tuples(html)
    labels = classify_blocks(blocks)
    return {
        **_main_text(blocks, labels),
        "tables": [b[0] for b in blocks if b[1] == "table"],
        "spans": [
            {"block_idx": i, "tag": tag, "is_content": keep, "kind": "text",
             "n_chars": len(text), "words": len(text.split()),
             "link_density": anchor / len(text) if text else 0.0}
            if tag != "table" else
            {"block_idx": i, "tag": tag, "is_content": False, "kind": "table",
             "n_chars": 0, "words": 0, "link_density": 0.0}
            for i, ((text, tag, anchor, _, _), keep)
            in enumerate(zip(blocks, labels))
        ],
    }
