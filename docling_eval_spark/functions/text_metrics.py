"""Text metrics, from scratch (stdlib only).

Mirrors the reference semantics (cited for parity, no code copied):
  - normalized edit distance on token lists:
      reference docling_eval/evaluators/markdown_text_evaluator.py:227-229
      (nltk edit_distance(pred, true) / max(len(pred), len(true)))
  - token precision/recall/F1 as SET metrics:
      reference markdown_text_evaluator.py:219-226 (nltk set-based
      precision/recall/f_measure over token sets)
  - BLEU (4-gram, uniform weights, brevity penalty, no smoothing):
      reference markdown_text_evaluator.py:203-211 (HF evaluate "bleu")
  - METEOR (exact-match alignment variant; nltk meteor_score semantics
    with exact matches only since no WordNet is available here):
      reference markdown_text_evaluator.py:230
  - CER = edit_distance(chars) / len(true_chars), char_accuracy = 1 - min(1, cer):
      reference docling_eval/evaluators/ocr_evaluator.py:109-113,145-148

All functions are deterministic and pure. Edit distance, the cost core of
normalized edit distance, CER, ANLS and the TEDS cell-rename cost, is one
`levenshtein`: a common prefix/suffix trim, then the bit-parallel
recurrence of Myers 1999 / Hyyrö 2003 on Python ints, so a pair costs one
interpreter step per symbol of the longer side after the trim.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Hashable, Sequence

_WORD_RE = re.compile(r"\w+|[^\w\s]", re.UNICODE)


def word_tokenize(text: str) -> list[str]:
    """Treebank-ish tokenizer: words and standalone punctuation.

    Stand-in for nltk.word_tokenize (reference markdown_text_evaluator.py:219-221)
    using a deterministic regex — words (\\w+) and single punctuation marks.
    """
    return _WORD_RE.findall(text)


def levenshtein(a: Sequence[Hashable], b: Sequence[Hashable]) -> int:
    """Edit distance between two sequences of hashable symbols.

    The common prefix and suffix are trimmed first (they never change
    the distance). The rest runs the bit-vector recurrence of Myers 1999
    ("A fast bit-vector algorithm for approximate string matching based
    on dynamic programming", JACM) in Hyyrö's 2003 form for Levenshtein
    distance, on Python ints: one bit per symbol of the shorter side, one
    loop step per symbol of the longer side. The result is exactly the
    unit-cost DP distance.
    """
    n, m = len(a), len(b)
    lo = 0
    hi = min(n, m)
    while lo < hi and a[lo] == b[lo]:
        lo += 1
    while n > lo and m > lo and a[n - 1] == b[m - 1]:
        n -= 1
        m -= 1
    if n == lo:
        return m - lo
    if m == lo:
        return n - lo
    if n > m:  # bit-vectors over the shorter side
        a, b, n, m = b, a, m, n
    peq: dict[Hashable, int] = {}
    bit = 1
    for i in range(lo, n):
        x = a[i]
        peq[x] = peq.get(x, 0) | bit
        bit <<= 1
    mask = bit - 1
    last = bit >> 1
    vp, vn = mask, 0
    dist = n - lo
    for j in range(lo, m):
        eq = peq.get(b[j], 0)
        xv = eq | vn
        xh = (((eq & vp) + vp) ^ vp) | eq
        hp = vn | ~(xh | vp)
        hn = vp & xh
        if hp & last:
            dist += 1
        elif hn & last:
            dist -= 1
        hp = (hp << 1) | 1
        vp = ((hn << 1) | ~(xv | hp)) & mask
        vn = hp & xv
    return dist


def edit_distance_norm(pred_tokens: Sequence, true_tokens: Sequence) -> float:
    """Normalized edit distance: dist / max(len) ; 0.0 when both empty.

    Parity: reference markdown_text_evaluator.py:227-229.
    """
    mx = max(len(pred_tokens), len(true_tokens))
    if mx == 0:
        return 0.0
    return levenshtein(pred_tokens, true_tokens) / mx


def token_set_prf(pred_tokens: Sequence[str], true_tokens: Sequence[str]) -> tuple[float, float, float]:
    """Set-based precision/recall/F1 (nltk semantics: reference=true, test=pred).

    nltk precision(reference, test) = |ref ∩ test| / |test|
    nltk recall(reference, test)    = |ref ∩ test| / |ref|
    f_measure with alpha=0.5 → harmonic mean.
    Parity: reference markdown_text_evaluator.py:219-226.
    Returns (f1, precision, recall); 0.0 on empty denominators.
    """
    ps, ts = set(pred_tokens), set(true_tokens)
    inter = len(ps & ts)
    precision = inter / len(ps) if ps else 0.0
    recall = inter / len(ts) if ts else 0.0
    f1 = (2 * precision * recall / (precision + recall)) if (precision + recall) else 0.0
    return f1, precision, recall


def bleu_score(pred_tokens: Sequence[str], true_tokens: Sequence[str], max_order: int = 4) -> float:
    """BLEU with uniform n-gram weights up to max_order, brevity penalty,
    no smoothing (HF evaluate "bleu" defaults; reference markdown_text_evaluator.py:203-211).

    Single-reference, single-candidate (the reference scores per document).
    """
    if len(pred_tokens) == 0:
        return 0.0
    log_sum = 0.0
    for order in range(1, max_order + 1):
        pred_ngrams = Counter(
            tuple(pred_tokens[i : i + order]) for i in range(len(pred_tokens) - order + 1)
        )
        true_ngrams = Counter(
            tuple(true_tokens[i : i + order]) for i in range(len(true_tokens) - order + 1)
        )
        overlap = sum(min(c, true_ngrams[g]) for g, c in pred_ngrams.items())
        total = max(sum(pred_ngrams.values()), 0)
        if total == 0 or overlap == 0:
            return 0.0  # unsmoothed BLEU: any zero precision zeroes the product
        log_sum += math.log(overlap / total) / max_order
    bp = 1.0
    if len(pred_tokens) < len(true_tokens):
        bp = math.exp(1.0 - len(true_tokens) / len(pred_tokens))
    return bp * math.exp(log_sum)


def _align_stage(pred_tokens: Sequence[str], true_tokens: Sequence[str],
                 pairs: list, used_pred: set, used_true: set,
                 key) -> None:
    """One injective greedy alignment stage over the not-yet-matched
    tokens, matching on key(token); extends pairs/used in place. A None
    key never matches (tokens outside a stage's vocabulary)."""
    true_positions: dict[str, list[int]] = {}
    for j, t in enumerate(true_tokens):
        if j not in used_true and key(t) is not None:
            true_positions.setdefault(key(t), []).append(j)
    for i, p in enumerate(pred_tokens):
        if i in used_pred or key(p) is None:
            continue
        for j in true_positions.get(key(p), ()):
            if j not in used_true:
                used_true.add(j)
                used_pred.add(i)
                pairs.append((i, j))
                break


# METEOR stage-3 synonym table. The reference's nltk meteor_score uses
# WordNet synsets; that corpus is absent here, so the stage ships with a
# SMALL built-in table of unambiguous common-English synonym groups — a
# documented subset deviation (same mechanism, reduced vocabulary) —
# and accepts a full table via the `synonyms` parameter when one is
# available.
_SYNONYM_GROUPS: list[list[str]] = [
    ["big", "large"], ["small", "little"], ["quick", "fast", "rapid"],
    ["begin", "start", "commence"], ["end", "finish", "conclude"],
    ["buy", "purchase"], ["car", "automobile"],
    ["happy", "glad", "joyful"], ["sad", "unhappy"],
    ["smart", "intelligent", "clever"], ["house", "home"],
    ["speak", "talk"], ["look", "see", "view"], ["help", "assist", "aid"],
    ["show", "display"], ["make", "create", "build"],
    ["error", "mistake", "fault"], ["answer", "reply", "response"],
    ["question", "query"], ["choose", "select", "pick"],
    ["near", "close"], ["far", "distant"], ["old", "ancient"],
    ["new", "novel"], ["correct", "right", "accurate"],
    ["wrong", "incorrect"], ["easy", "simple"], ["hard", "difficult"],
    ["important", "significant"], ["use", "utilize", "employ"],
    ["need", "require"], ["get", "obtain", "acquire"],
    ["keep", "retain"], ["stop", "halt", "cease"],
    ["rise", "increase", "grow"], ["fall", "decrease", "drop", "decline"],
    ["whole", "entire", "complete"], ["part", "portion", "segment"],
    ["many", "numerous"], ["few", "scarce"],
]

_DEFAULT_SYNONYMS: dict[str, int] = {
    w: gid for gid, group in enumerate(_SYNONYM_GROUPS) for w in group
}


def synonym_table(groups: Sequence[Sequence[str]]) -> dict[str, int]:
    """Build a word -> group-id table for meteor_score(synonyms=...)."""
    return {w.lower(): gid for gid, group in enumerate(groups)
            for w in group}


def meteor_score(pred_tokens: Sequence[str], true_tokens: Sequence[str],
                 alpha: float = 0.9, beta: float = 3.0, gamma: float = 0.5,
                 synonyms: "dict[str, int] | None" = None) -> float:
    """METEOR with exact + Porter-stem + synonym alignment stages.

    Standard formulation (Banerjee & Lavie 2005; nltk parameters):
      P = m/|pred|, R = m/|true|, Fmean = P*R / (alpha*P + (1-alpha)*R)
      penalty = gamma * (chunks/m)^beta ;  score = Fmean * (1 - penalty)
    Alignment mirrors nltk's staged matcher (the reference's
    markdown_text_evaluator.py:230): stage 1 exact tokens, stage 2
    Porter stems over the remaining unmatched tokens (functions/
    stemmer.py, NLTK_EXTENSIONS mode like the reference), stage 3
    synonym groups (the reference uses WordNet synsets; the built-in
    table is a small public subset — documented deviation — and a full
    word -> group-id table can be passed via `synonyms`).
    chunks = number of maximal runs of matches adjacent in BOTH orders.
    """
    if not pred_tokens or not true_tokens:
        return 0.0
    from .stemmer import porter_stem

    syn = _DEFAULT_SYNONYMS if synonyms is None else synonyms
    pairs: list[tuple[int, int]] = []  # (pred_idx, true_idx)
    used_pred: set[int] = set()
    used_true: set[int] = set()
    _align_stage(pred_tokens, true_tokens, pairs, used_pred, used_true,
                 key=lambda w: w)
    _align_stage(pred_tokens, true_tokens, pairs, used_pred, used_true,
                 key=porter_stem)
    _align_stage(pred_tokens, true_tokens, pairs, used_pred, used_true,
                 key=lambda w: syn.get(w.lower()))
    m = len(pairs)
    if m == 0:
        return 0.0
    precision = m / len(pred_tokens)
    recall = m / len(true_tokens)
    fmean = precision * recall / (alpha * precision + (1 - alpha) * recall)
    # chunk count: runs contiguous in both pred and true order
    pairs.sort()
    chunks = 1
    for (pi, ti), (pj, tj) in zip(pairs, pairs[1:]):
        if not (pj == pi + 1 and tj == ti + 1):
            chunks += 1
    penalty = gamma * (chunks / m) ** beta
    return fmean * (1.0 - penalty)


def anls(pred: str, answers: Sequence[str], tau: float = 0.5) -> float:
    """Normalized Levenshtein Similarity for one question (ANLS, Biten et
    al. 2019 — the ST-VQA/DocVQA protocol the reference's DocVQA
    benchmark targets): 1 - lev(pred, a)/max(len) maximized over the
    gold answers, zeroed below the tau threshold. Inputs are lowercased
    and whitespace-normalized like the published evaluator."""
    p = " ".join(pred.strip().lower().split())
    best = 0.0
    for a in answers:
        g = " ".join(a.strip().lower().split())
        if not p and not g:
            s = 1.0
        elif not p or not g:
            s = 0.0
        else:
            s = 1.0 - levenshtein(p, g) / max(len(p), len(g))
        best = max(best, s)
    return best if best >= tau else 0.0


def cer(pred_text: str, true_text: str) -> float:
    """Character error rate: edit_distance(chars)/len(true); 1.0 when pred
    empty and true non-empty; 0.0 when both empty.
    Parity: reference ocr_evaluator.py:109-113 (char_accuracy = 1 - min(1, cer)).
    """
    if len(true_text) == 0:
        return 0.0 if len(pred_text) == 0 else 1.0
    return levenshtein(pred_text, true_text) / len(true_text)


def char_accuracy(pred_text: str, true_text: str) -> float:
    return 1.0 - min(1.0, cer(pred_text, true_text))


def score_text_pair(pred_text: str, true_text: str) -> dict[str, float]:
    """All markdown-suite metrics for one (pred, true) pair.

    Output keys mirror PageMarkdownEvaluation fields
    (reference markdown_text_evaluator.py:33-43,164-185).
    """
    pt = word_tokenize(pred_text)
    tt = word_tokenize(true_text)
    f1, precision, recall = token_set_prf(pt, tt)
    return {
        "bleu": bleu_score(pt, tt),
        "f1_score": f1,
        "precision": precision,
        "recall": recall,
        "edit_distance": edit_distance_norm(pt, tt),
        "meteor": meteor_score(pt, tt),
    }
