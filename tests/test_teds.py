"""TEDS fixtures per FIXTURES.md §2 — closed-form cases mirroring the
reference test model (tests/test_table_evaluator.py:11-292 asserts
TEDS == 1.0 on identity)."""

import re

import pytest

from docling_eval_spark.functions.teds import (
    html_table_to_grid_cells,
    is_complex_table,
    parse_table_tree,
    strip_formatting_tags,
    table_shape,
    teds_score,
    tree_edit_distance,
)

SIMPLE = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
SIMPLE_EDIT = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>x</td></tr></table>"
DROPPED_ROW = "<table><tr><td>a</td><td>b</td></tr></table>"
SPANNED = '<table><tr><td colspan="2">a</td></tr><tr><td>c</td><td>d</td></tr></table>'
FORMATTED = "<table><tr><td><b>a</b></td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
EMPTY_CELLS = "<table><tr><td></td><td></td></tr></table>"


class TestTreeParse:
    def test_structure(self):
        t = parse_table_tree(SIMPLE)
        assert t.tag == "table"
        assert len(t.children) == 2  # two tr
        assert [c.tag for c in t.children[0].children] == ["td", "td"]
        assert t.children[0].children[0].content == ["a"]
        assert t.size() == 7  # table + 2 tr + 4 td

    def test_th_normalized_and_spans(self):
        t = parse_table_tree('<table><tr><th colspan="3" rowspan="2">h</th></tr></table>')
        cell = t.children[0].children[0]
        assert cell.tag == "td" and cell.colspan == 3 and cell.rowspan == 2

    def test_nested_inline_tokens(self):
        t = parse_table_tree("<table><tr><td>x<b>y</b>z</td></tr></table>")
        assert t.children[0].children[0].content == ["x", "<b", "y", "</b>", "z"]


class TestTEDS:
    def test_identity(self):
        assert teds_score(SIMPLE, SIMPLE) == pytest.approx(1.0)
        assert teds_score(SIMPLE, SIMPLE, structure_only=True) == pytest.approx(1.0)
        assert teds_score(SPANNED, SPANNED) == pytest.approx(1.0)

    def test_single_cell_edit(self):
        # one td content 'd'->'x': rename cost 1.0 (full char swap) over 6 descendants
        score = teds_score(SIMPLE, SIMPLE_EDIT)
        assert score == pytest.approx(1.0 - 1.0 / 6.0)
        # structure-only ignores content
        assert teds_score(SIMPLE, SIMPLE_EDIT, structure_only=True) == pytest.approx(1.0)

    def test_dropped_row(self):
        # gt has 6 descendants, pred 3; distance = 3 (delete tr + 2 td)
        assert teds_score(SIMPLE, DROPPED_ROW) == pytest.approx(1.0 - 3.0 / 6.0)

    def test_span_mismatch(self):
        # colspan difference = rename cost 1.0 on one td, plus td count drift
        s = teds_score(SIMPLE, SPANNED)
        assert 0.0 < s < 1.0

    def test_formatting_tags_stripped(self):
        assert teds_score(SIMPLE, FORMATTED) == pytest.approx(1.0)
        assert strip_formatting_tags("<b>x</b><i>y</i><u>z</u>") == "xyz"

    def test_completely_different(self):
        other = "<table><tr><td>zzzz</td></tr><tr><td>qqqq</td></tr><tr><td>wwww</td></tr></table>"
        assert teds_score(SIMPLE, other) < 0.6

    def test_empty_cells_identity(self):
        assert teds_score(EMPTY_CELLS, EMPTY_CELLS) == pytest.approx(1.0)

    def test_ted_known_distance(self):
        # identical trees -> 0
        assert tree_edit_distance(parse_table_tree(SIMPLE), parse_table_tree(SIMPLE)) == 0.0


def _pinned_preds(doc_id: int) -> tuple[str, list[str]]:
    """gt table for doc_id and seven predictions: perturb modes 0-3, one
    cell-text edit, every cell's text rewritten on top of mode 3, and the
    next table in the corpus."""
    from docling_eval_spark.corpus.html_synth import gt_table_html
    from docling_eval_spark.plans.table_eval import perturb_table_html

    gt = gt_table_html(doc_id)
    preds = [perturb_table_html(gt, mode) for mode in range(4)]
    preds.append(re.sub(r"v(\d)(\d)", r"cell \1.\2", gt, count=1))
    preds.append(re.sub(r"v(\d)(\d)", r"\2v\1", perturb_table_html(gt, 3)))
    preds.append(gt_table_html(doc_id + 5))
    return gt, preds


# (teds_score, structure_only teds_score) per prediction, recorded once and
# compared with ==: a kernel change that moves any float fails here
_PINNED_TEDS = {
    0: [
        (1.0, 1.0),
        (0.8, 0.8),
        (0.8888888888888888, 0.8888888888888888),
        (0.7272727272727273, 0.7272727272727273),
        (0.90625, 1.0),
        (0.4242424242424243, 0.7272727272727273),
        (0.5, 0.5),
    ],
    5: [
        (1.0, 1.0),
        (0.8, 0.8),
        (0.8888888888888888, 0.8888888888888888),
        (0.7272727272727273, 0.7272727272727273),
        (0.90625, 1.0),
        (0.4242424242424243, 0.7272727272727273),
        (0.31818181818181823, 0.31818181818181823),
    ],
    10: [
        (1.0, 1.0),
        (0.9166666666666666, 0.9166666666666666),
        (0.9565217391304348, 0.9565217391304348),
        (0.88, 0.88),
        (0.9659090909090909, 1.0),
        (0.42666666666666675, 0.88),
        (0.5757575757575758, 0.5909090909090908),
    ],
    15: [
        (1.0, 1.0),
        (0.9047619047619048, 0.9047619047619048),
        (0.95, 0.95),
        (0.8636363636363636, 0.8636363636363636),
        (0.9605263157894737, 1.0),
        (0.43939393939393934, 0.8636363636363636),
        (0.19298245614035092, 0.26315789473684215),
    ],
    20: [
        (1.0, 1.0),
        (0.7142857142857143, 0.7142857142857143),
        (0.8333333333333334, 0.8333333333333334),
        (0.625, 0.625),
        (0.85, 1.0),
        (0.375, 0.625),
        (0.2857142857142857, 0.2857142857142857),
    ],
    25: [
        (1.0, 1.0),
        (0.875, 0.875),
        (0.9333333333333333, 0.9333333333333333),
        (0.8235294117647058, 0.8235294117647058),
        (0.9464285714285714, 1.0),
        (0.47058823529411764, 0.8235294117647058),
        (0.43137254901960786, 0.5294117647058824),
    ],
    30: [
        (1.0, 1.0),
        (0.8947368421052632, 0.8947368421052632),
        (0.9444444444444444, 0.9444444444444444),
        (0.85, 0.85),
        (0.9558823529411765, 1.0),
        (0.41666666666666674, 0.85),
        (0.6666666666666667, 0.6842105263157895),
    ],
    35: [
        (1.0, 1.0),
        (0.9047619047619048, 0.9047619047619048),
        (0.95, 0.95),
        (0.8636363636363636, 0.8636363636363636),
        (0.9605263157894737, 1.0),
        (0.40909090909090906, 0.8636363636363636),
        (0.5789473684210527, 0.5789473684210527),
    ],
    40: [
        (1.0, 1.0),
        (0.8947368421052632, 0.8947368421052632),
        (0.9444444444444444, 0.9444444444444444),
        (0.85, 0.85),
        (0.9558823529411765, 1.0),
        (0.41666666666666674, 0.85),
        (0.3137254901960784, 0.47058823529411764),
    ],
    45: [
        (1.0, 1.0),
        (0.8947368421052632, 0.8947368421052632),
        (0.9444444444444444, 0.9444444444444444),
        (0.85, 0.85),
        (0.9558823529411765, 1.0),
        (0.44999999999999996, 0.85),
        (0.4285714285714286, 0.47619047619047616),
    ],
    50: [
        (1.0, 1.0),
        (0.9130434782608696, 0.9130434782608696),
        (0.9545454545454546, 0.9545454545454546),
        (0.875, 0.875),
        (0.9642857142857143, 1.0),
        (0.4305555555555556, 0.875),
        (0.365079365079365, 0.4285714285714286),
    ],
    55: [
        (1.0, 1.0),
        (0.8666666666666667, 0.8666666666666667),
        (0.9285714285714286, 0.9285714285714286),
        (0.8125, 0.8125),
        (0.9423076923076923, 1.0),
        (0.4375, 0.8125),
        (0.4871794871794872, 0.6153846153846154),
    ],
}


class TestTedsPinned:
    """The DP and cost cache must reproduce every float exactly."""

    @pytest.mark.parametrize("doc_id", sorted(_PINNED_TEDS))
    def test_scores_bit_for_bit(self, doc_id):
        gt, preds = _pinned_preds(doc_id)
        got = [(teds_score(gt, p), teds_score(gt, p, structure_only=True))
               for p in preds]
        assert got == _PINNED_TEDS[doc_id]


class TestGridCells:
    def test_simple_grid(self):
        cells = html_table_to_grid_cells(SIMPLE)
        assert [(c["row"], c["col"], c["text"]) for c in cells] == [
            (0, 0, "a"), (0, 1, "b"), (1, 0, "c"), (1, 1, "d"),
        ]
        assert table_shape(cells) == (2, 2)
        assert not is_complex_table(cells)

    def test_rowspan_skip(self):
        html = ('<table><tr><td rowspan="2">a</td><td>b</td></tr>'
                "<tr><td>c</td></tr></table>")
        cells = html_table_to_grid_cells(html)
        # second-row cell must land in col 1 (col 0 occupied by rowspan)
        assert [(c["row"], c["col"]) for c in cells] == [(0, 0), (0, 1), (1, 1)]
        assert is_complex_table(cells)
        assert table_shape(cells) == (2, 2)

    def test_colspan_grid(self):
        cells = html_table_to_grid_cells(SPANNED)
        assert [(c["row"], c["col"], c["colspan"]) for c in cells] == [
            (0, 0, 2), (1, 0, 1), (1, 1, 1),
        ]
        assert is_complex_table(cells)
        assert table_shape(cells) == (2, 2)

    def test_6x5_complex_identity(self):
        # larger span-heavy table: TEDS identity must hold
        html = (
            "<table>"
            '<tr><td rowspan="2">r</td><td colspan="2">h1</td><td>h2</td><td>h3</td></tr>'
            "<tr><td>a</td><td>b</td><td>c</td><td></td></tr>"
            "<tr><td>1</td><td>2</td><td>3</td><td>4</td><td>5</td></tr>"
            "</table>"
        )
        cells = html_table_to_grid_cells(html)
        assert is_complex_table(cells)
        assert teds_score(html, html) == pytest.approx(1.0)


class TestTedsScoresPlan:
    """teds_scores synthesizes html only for the table pages it keeps."""

    def test_table_filter_runs_before_synthesis(self, spark, sf_dir):
        from docling_eval_spark.plans.table_eval import teds_scores

        # the physical plan before execution; children print below their
        # parent: one MapInPandas synthesizes and scores, after the filter
        plan = teds_scores(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString().splitlines()
        nodes = [line.lstrip(" +-:") for line in plan]
        maps = [i for i, n in enumerate(nodes) if n.startswith("MapInPandas")]
        (table_filter,) = [i for i, n in enumerate(nodes)
                           if n.startswith("Filter") and "% 5) = 0" in n]
        assert len(maps) == 1 and table_filter > maps[0]
