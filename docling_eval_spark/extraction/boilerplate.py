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

from .html_tokenizer import Block, parse_blocks

MAX_LINK_DENSITY = 1.0 / 3.0
PREV_LINK_DENSITY_GATE = 0.555556


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """True = content, False = boilerplate. Table blocks are never main text."""
    text_blocks = [b for b in blocks if b.kind == "text"]
    n = len(text_blocks)
    labels: list[bool | None] = [None] * n

    # pass 1: hard rules (semantic ancestors, link density)
    for i, b in enumerate(text_blocks):
        if b.boiler_ancestor and not b.content_ancestor:
            labels[i] = False
        elif b.content_ancestor:
            labels[i] = True
        elif b.link_density > MAX_LINK_DENSITY:
            labels[i] = False

    # pass 2: density rules over the undecided blocks. Neighbors are the
    # nearest blocks NOT hard-killed in pass 1 — nav/footer/link-list blocks
    # must not poison the density context of the article body (they are
    # structurally separate in the DOM; the flat neighbor rule of the WSDM'10
    # classifier assumes neighbors within the same content flow).
    survivors = [i for i, lab in enumerate(labels) if lab is not False]
    for si, i in enumerate(survivors):
        if labels[i] is not None:
            continue
        b = text_blocks[i]
        prev = text_blocks[survivors[si - 1]] if si > 0 else Block()
        nxt = text_blocks[survivors[si + 1]] if si < len(survivors) - 1 else Block()
        if prev.link_density <= PREV_LINK_DENSITY_GATE:
            labels[i] = b.words > 16 or nxt.words > 15 or prev.words > 4
        else:
            labels[i] = b.words > 40 or nxt.words > 17

    # heading promotion pass
    for i, b in enumerate(text_blocks):
        if b.is_heading and not labels[i] and b.link_density <= MAX_LINK_DENSITY \
                and not (b.boiler_ancestor and not b.content_ancestor):
            for j in (i + 1, i + 2):
                if j < n and labels[j]:
                    labels[i] = True
                    break

    # map back onto the full block list (tables -> False for main text)
    text_labels = iter(labels)
    return [b.kind == "text" and bool(next(text_labels)) for b in blocks]


def _main_text(blocks: list[Block], labels: list[bool]) -> dict:
    content = [b.text for b, keep in zip(blocks, labels) if keep]
    n_text = sum(1 for b in blocks if b.kind == "text")
    return {"text": "\n\n".join(content), "n_blocks": len(blocks),
            "n_content": len(content), "n_boiler": n_text - len(content)}


def main_text(html: str) -> dict:
    """html string -> {text, n_blocks, n_content, n_boiler}, no per-block
    provenance: the kernel of the extract+score stage.

    Main text = content blocks joined with "\\n\\n" (the block separator
    contract shared with the corpus generator — lossless for texts whose
    paragraphs were split on the same separator).
    """
    blocks = parse_blocks(html)
    return _main_text(blocks, classify_blocks(blocks))


def extract_main_text(html: str) -> dict:
    """main_text's fields plus per-block provenance: tables (captured
    <table> subtrees, for TEDS) and spans, per-block rows (block_idx, tag,
    is_content, kind, n_chars, words, link_density) — the rebuild analog
    of the reference's span rows.
    """
    blocks = parse_blocks(html)
    labels = classify_blocks(blocks)
    return {
        **_main_text(blocks, labels),
        "tables": [b.table_html for b in blocks if b.kind == "table"],
        "spans": [
            dict(block_idx=i, tag=b.tag, is_content=keep, kind=b.kind,
                 n_chars=b.n_chars, words=b.words, link_density=b.link_density)
            for i, (b, keep) in enumerate(zip(blocks, labels))
        ],
    }
