"""Unit tests for text metric kernels — closed-form fixtures per FIXTURES.md §3.

Mirrors the reference test model (tests/test_table_evaluator.py style:
hand-built inputs with identity properties)."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_eval_spark.functions.text_metrics import (
    bleu_score,
    cer,
    char_accuracy,
    edit_distance_norm,
    levenshtein,
    meteor_score,
    score_text_pair,
    token_set_prf,
    word_tokenize,
)


def _levenshtein_exact(a, b) -> int:
    """Plain scalar unit-cost DP: the oracle for the bit-parallel kernel."""
    prev = list(range(len(b) + 1))
    for i, ai in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, bj in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ai != bj))
        prev = cur
    return prev[-1]


# lengths up to 200 so bit-vectors span one, two and four 64-bit words
_chars = st.text(alphabet="abcdé€😀", max_size=200)
_long_chars = st.text(alphabet="abcdé€😀", min_size=60, max_size=200)
_tokens = st.lists(st.sampled_from(["the", "a", "cat", "sat", "mat", "ü"]),
                   max_size=150)


class TestLevenshtein:
    def test_known_values(self):
        assert levenshtein("kitten", "sitting") == 3
        assert levenshtein("", "abc") == 3
        assert levenshtein("abc", "") == 3
        assert levenshtein("abc", "abc") == 0
        assert levenshtein(["a", "b"], ["b", "a"]) == 2
        assert levenshtein("flaw", "lawn") == 2

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="abcd", max_size=12), st.text(alphabet="abcd", max_size=12))
    def test_matches_scalar_dp(self, a, b):
        assert levenshtein(a, b) == _levenshtein_exact(a, b)

    @settings(max_examples=150, deadline=None)
    @given(_long_chars, _long_chars)
    def test_long_non_ascii_matches_scalar_dp(self, a, b):
        assert levenshtein(a, b) == _levenshtein_exact(a, b)

    @settings(max_examples=150, deadline=None)
    @given(_tokens, _tokens)
    def test_token_lists_match_scalar_dp(self, a, b):
        assert levenshtein(a, b) == _levenshtein_exact(a, b)

    @settings(max_examples=150, deadline=None)
    @given(_chars, _chars, _chars, _chars, _chars)
    def test_shared_prefix_suffix_match_scalar_dp(self, pre, x, y, suf, pad):
        # shared prefix and suffix around differing middles, both orders
        a, b = pre + pad + x + suf, pre + y + pad + suf
        assert levenshtein(a, b) == _levenshtein_exact(a, b)
        assert levenshtein(b, a) == _levenshtein_exact(a, b)

    def test_multi_word_bitvectors(self):
        rng = np.random.default_rng(7)
        for n in (63, 64, 65, 127, 128, 129, 300):
            a = "".join(rng.choice(list("abcd"), n))
            b = "".join(rng.choice(list("abcd"), n + int(rng.integers(-20, 20))))
            # both argument orders: the kernel swaps to the shorter side
            assert levenshtein(a, b) == levenshtein(b, a) == _levenshtein_exact(a, b)

    def test_unicode(self):
        assert levenshtein("über", "uber") == 1
        assert levenshtein("αβγ", "αβδ") == 1


class TestTokenMetrics:
    def test_identity(self):
        toks = word_tokenize("The quick brown fox jumps over the lazy dog .")
        f1, p, r = token_set_prf(toks, toks)
        assert (f1, p, r) == (1.0, 1.0, 1.0)
        assert edit_distance_norm(toks, toks) == 0.0
        assert bleu_score(toks, toks) == pytest.approx(1.0)

    def test_empty_pred(self):
        true = word_tokenize("some reference text here")
        assert bleu_score([], true) == 0.0
        assert token_set_prf([], true) == (0.0, 0.0, 0.0)
        assert edit_distance_norm([], true) == 1.0
        assert meteor_score([], true) == 0.0

    def test_both_empty(self):
        assert edit_distance_norm([], []) == 0.0

    def test_disjoint(self):
        a, b = ["x", "y", "z"], ["p", "q", "r"]
        assert token_set_prf(a, b) == (0.0, 0.0, 0.0)
        assert bleu_score(a, b) == 0.0
        assert edit_distance_norm(a, b) == 1.0

    def test_half_overlap_sets(self):
        f1, p, r = token_set_prf(["a", "b"], ["a", "c"])
        assert p == 0.5 and r == 0.5 and f1 == 0.5

    def test_bleu_brevity_penalty(self):
        # pred is a strict prefix: all n-gram precisions 1, bp = exp(1 - 8/4)
        true = ["a", "b", "c", "d", "e", "f", "g", "h"]
        pred = true[:4]
        assert bleu_score(pred, true) == pytest.approx(math.exp(1 - 8 / 4))

    def test_meteor_identity_near_one(self):
        toks = ["one", "two", "three", "four", "five", "six", "seven", "eight", "nine", "ten"]
        # m=10 matches in 1 chunk: fmean=1, penalty = 0.5*(1/10)^3
        assert meteor_score(toks, toks) == pytest.approx(1.0 - 0.5 * (0.1 ** 3))

    def test_meteor_permutation_penalized(self):
        a = ["w1", "w2", "w3", "w4"]
        b = ["w4", "w3", "w2", "w1"]
        assert 0.0 < meteor_score(a, b) < meteor_score(a, a)


class TestCER:
    def test_identity(self):
        assert cer("hello world", "hello world") == 0.0
        assert char_accuracy("hello", "hello") == 1.0

    def test_empty_cases(self):
        assert cer("", "") == 0.0
        assert cer("", "abc") == 1.0
        assert cer("abc", "") == 1.0  # clamped path, ref ocr_evaluator.py:111-113

    def test_single_sub(self):
        assert cer("hallo", "hello") == pytest.approx(1 / 5)
        assert char_accuracy("hallo", "hello") == pytest.approx(0.8)


class TestScorePair:
    def test_identity_all_metrics(self):
        text = "A sentence with several words, punctuation and 42 numbers."
        m = score_text_pair(text, text)
        assert m["bleu"] == pytest.approx(1.0)
        assert m["f1_score"] == 1.0
        assert m["precision"] == 1.0
        assert m["recall"] == 1.0
        assert m["edit_distance"] == 0.0
        assert m["meteor"] > 0.99

    def test_unicode_exactness(self):
        text = "Ελληνικά κείμενο — ümlauts & çedillas 中文"
        m = score_text_pair(text, text)
        assert m["edit_distance"] == 0.0


class TestMarkdownExport:
    """F6 markdown export (functions/markdown_export.py)."""

    def test_label_mapping(self):
        from docling_eval_spark.functions.markdown_export import spans_to_markdown

        md = spans_to_markdown([
            ("title", "Doc"), ("section_header", "Intro"),
            ("text", "Body."), ("list_item", "bullet"),
            ("code", "x = 1"), ("picture", "ignored-bytes"),
            ("page_footer", "DROPPED"), ("caption", "Fig 1"),
        ])
        assert md == ("# Doc\n\n## Intro\n\nBody.\n\n- bullet\n\n"
                      "```\nx = 1\n```\n\n<!-- image -->\n\nFig 1")

    def test_empty(self):
        from docling_eval_spark.functions.markdown_export import spans_to_markdown

        assert spans_to_markdown([]) == ""
        assert spans_to_markdown([("page_header", "x")]) == ""


class TestDoctags:
    """F19 doctags parse/serialize round-trip + real-sample tolerance."""

    def test_round_trip(self):
        from docling_eval_spark.functions.doctags import (
            DocTagSpan,
            parse_doctags,
            to_doctags,
        )

        spans = [
            DocTagSpan("title", 10, 2, 30, 10, "Heading"),
            DocTagSpan("text", 10, 12, 30, 20, "multi word body, punct."),
            DocTagSpan("page_footer", 0, 480, 50, 490, "82"),
        ]
        assert parse_doctags(to_doctags(spans)) == spans

    def test_reference_sample_shape(self):
        from docling_eval_spark.functions.doctags import parse_doctags

        sample = (
            " <doctag><page_footer><loc_23><loc_483><loc_32><loc_488>82"
            "</page_footer>\n<text><loc_35><loc_107><loc_442><loc_132>"
            "Some body text</text>\n</doctag>"
        )
        spans = parse_doctags(sample)
        assert [s.label for s in spans] == ["page_footer", "text"]
        assert spans[0].l == 23 and spans[1].b == 132

    def test_malformed_skipped(self):
        from docling_eval_spark.functions.doctags import parse_doctags

        s = "<text><loc_1><loc_2>missing locs</text><text><loc_1><loc_2><loc_3><loc_4>ok</text>"
        spans = parse_doctags(s)
        assert len(spans) == 1 and spans[0].text == "ok"


def test_meteor_synonym_stage():
    """Verdict item: synonym alignment moves the score in the
    reference-predicted direction (WordNet-stage analog over the
    built-in subset table)."""
    from docling_eval_spark.functions.text_metrics import (
        meteor_score,
        synonym_table,
    )

    pred = "the automobile is large".split()
    true = "the car is big".split()
    with_syn = meteor_score(pred, true)
    without_syn = meteor_score(pred, true, synonyms={})
    assert with_syn > without_syn  # automobile~car, large~big matched
    # all four tokens aligned -> recall/precision 1, only penalty < 1
    assert with_syn > 0.9
    # custom table: plug a domain synonym pair
    custom = synonym_table([["spark", "flink"]])
    assert meteor_score(["spark"], ["flink"], synonyms=custom) > 0
    assert meteor_score(["spark"], ["flink"], synonyms={}) == 0.0
    # identical sentences unaffected by the synonym stage
    s = "alpha beta gamma".split()
    assert meteor_score(s, s) == meteor_score(s, s, synonyms={})
