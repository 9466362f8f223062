"""TEDS fixtures per FIXTURES.md §2 — closed-form cases mirroring the
reference test model (tests/test_table_evaluator.py:11-292 asserts
TEDS == 1.0 on identity)."""

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
        # parent, so the last MapInPandas is the first to run (synthesis)
        plan = teds_scores(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString().splitlines()
        nodes = [line.lstrip(" +-:") for line in plan]
        maps = [i for i, n in enumerate(nodes) if n.startswith("MapInPandas")]
        (table_filter,) = [i for i, n in enumerate(nodes)
                           if n.startswith("Filter") and "% 5) = 0" in n]
        assert len(maps) == 2 and table_filter > maps[-1]
