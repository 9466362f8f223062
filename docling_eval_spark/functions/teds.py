"""TEDS (Tree-Edit-Distance Score) for HTML tables, from scratch.

Implements the published TEDS metric (Zhong et al., "Image-based table
recognition: data, model, and evaluation", ECCV 2020) with the same cost
model the reference uses (parity target, no code copied):

  reference docling_eval/evaluators/teds.py:13-129
    - rename cost 1.0 when tag/colspan/rowspan differ
    - 'td' nodes compare cell content by normalized Levenshtein over a
      character-token stream (nested inline tags contribute '<x' / '</x>'
      tokens)
    - TEDS = 1 - distance / max(n_descendant_elements(gt), n_desc(pred))
      (note: the reference normalizes by descendant-element count,
       excluding the <table> root itself — xpath('.//*'))
    - struct-only variant ignores cell content

The tree edit distance itself is the classic Zhang-Shasha algorithm
(K. Zhang, D. Shasha, SIAM J. Comput. 1989) — exact, O(n^2 * min-depth
factors); table trees are small (<= a few hundred nodes) so this is the
per-document kernel inside an Arrow-batched grouped-map UDF, never a
distributed operation (SURVEY.md §2.8 F1). Its tables are plain Python
lists, and the rename cost (a Levenshtein for td pairs) is computed once
per node pair and reused across every keyroot pair whose forests hold it.

Also provides:
  - parse_table_tree / html_table_to_grid_cells (reference
    utils/utils.py:162-244 semantics: colspan/rowspan grid fill)
  - is_complex_table (reference table_evaluator.py:93-100)
  - strip_formatting_tags (reference table_evaluator.py:128,274-278;
    we apply the strip to BOTH gt and pred — the reference has a bug where
    the stripped pred string is discarded; we implement the fixed behavior
    and document the deviation here)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

from .text_metrics import levenshtein

_FORMATTING_TAG_RE = re.compile(r"</?(?:i|b|u)>")

# tags whose content/children we keep in the table tree
_STRUCT_TAGS = {"table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption", "colgroup", "col"}


def strip_formatting_tags(html: str) -> str:
    """Remove <i></i><b></b><u></u> before TEDS, per reference
    table_evaluator.py:128 (applied to both sides — fixed behavior)."""
    return _FORMATTING_TAG_RE.sub("", html)


@dataclass
class TableNode:
    tag: str
    colspan: int = 1
    rowspan: int = 1
    content: list[str] = field(default_factory=list)  # char-token stream for td
    children: list["TableNode"] = field(default_factory=list)

    def size(self) -> int:
        return 1 + sum(c.size() for c in self.children)


def _span_attr(v) -> int:
    """Malformed colspan/rowspan (model-generated HTML) degrades to 1
    instead of killing the scoring task (browsers do the same)."""
    try:
        return max(1, int(v))
    except (TypeError, ValueError):
        return 1


class _TableTreeParser(HTMLParser):
    """Builds a TableNode tree; 'th' is normalized to 'td' (both are cells).

    Inside a td, nested element tags contribute single tokens '<x' and '</x>'
    and text contributes one token per character — mirroring the reference's
    cell tokenization (teds.py:88-98) so Levenshtein rename costs agree.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root: TableNode | None = None
        self._stack: list[TableNode] = []
        self._td_depth = 0  # >0 while inside a cell

    def handle_starttag(self, tag, attrs):
        if self._td_depth > 0:
            self._stack[-1].content.append(f"<{tag}")
            self._td_depth += 1
            return
        if tag in ("td", "th"):
            a = dict(attrs)
            node = TableNode(
                "td",
                colspan=_span_attr(a.get("colspan")),
                rowspan=_span_attr(a.get("rowspan")),
            )
            self._attach(node)
            self._stack.append(node)
            self._td_depth = 1
        else:
            node = TableNode(tag)
            self._attach(node)
            self._stack.append(node)

    def handle_endtag(self, tag):
        if self._td_depth > 1:
            self._td_depth -= 1
            self._stack[-1].content.append(f"</{tag}>")
            return
        if self._td_depth == 1 and tag in ("td", "th"):
            self._td_depth = 0
            self._stack.pop()
            return
        if self._stack and self._td_depth == 0:
            self._stack.pop()

    def handle_startendtag(self, tag, attrs):
        if self._td_depth > 0:
            self._stack[-1].content.append(f"<{tag}")
        # void structural tags (e.g. <col/>) become leaf nodes
        elif tag in _STRUCT_TAGS:
            self._attach(TableNode(tag))

    def handle_data(self, data):
        if self._td_depth > 0:
            self._stack[-1].content.extend(data)

    def _attach(self, node: TableNode) -> None:
        if self._stack:
            self._stack[-1].children.append(node)
        elif self.root is None and node.tag == "table":
            self.root = node
        elif self.root is None:
            # tolerate fragments without explicit <table>
            self.root = TableNode("table")
            self.root.children.append(node)
            self._stack.append(self.root)
            return


def parse_table_tree(html: str) -> TableNode:
    p = _TableTreeParser()
    p.feed(html)
    p.close()
    return p.root if p.root is not None else TableNode("table")


def _flatten_postorder(root: TableNode):
    """Zhang-Shasha prep: postorder nodes, leftmost-leaf descendants, keyroots."""
    nodes: list[TableNode] = []
    lmld: list[int] = []

    def walk(n: TableNode) -> int:
        if not n.children:
            nodes.append(n)
            lmld.append(len(nodes) - 1)
            return len(nodes) - 1
        first = None
        for c in n.children:
            ci = walk(c)
            if first is None:
                first = lmld[ci]
        nodes.append(n)
        lmld.append(first)
        return len(nodes) - 1

    walk(root)
    # keyroots: the highest postorder index for each leftmost leaf
    last = {l: i for i, l in enumerate(lmld)}
    return nodes, lmld, sorted(last.values())


def _rename_cost(a: TableNode, b: TableNode, structure_only: bool) -> float:
    if a.tag != b.tag or a.colspan != b.colspan or a.rowspan != b.rowspan:
        return 1.0
    if a.tag == "td" and not structure_only:
        if a.content or b.content:
            mx = max(len(a.content), len(b.content))
            return levenshtein(a.content, b.content) / mx
    return 0.0


def tree_edit_distance(t1: TableNode, t2: TableNode, structure_only: bool = False) -> float:
    """Exact Zhang-Shasha tree edit distance with the TEDS cost model.

    Tree and forest distances live in plain lists, and each node pair's
    rename cost is computed once and reused by every keyroot pair whose
    forests contain it. Each cell is min(delete, insert, rename-or-match)
    taken in that order, as the classic recurrence writes it.
    """
    n1, l1, k1 = _flatten_postorder(t1)
    n2, l2, k2 = _flatten_postorder(t2)
    w = len(n2)
    td = [[0.0] * w for _ in n1]
    rename: dict[int, float] = {}
    # per keyroot j of t2, the columns of its forest: (y, node, the column
    # left of the node's subtree, whether the node is on j's leftmost path)
    cols = {j: [(yj - l2[j] + 1, yj, l2[yj] - l2[j], l2[yj] == l2[j])
                for yj in range(l2[j], j + 1)] for j in k2}

    for i in k1:
        li = l1[i]
        for j in k2:
            # forest distance for subtrees rooted at keyroots i, j
            cj = cols[j]
            fd = [[float(x)] + [0.0] * len(cj) for x in range(i - li + 2)]
            fd[0] = [float(y) for y in range(len(cj) + 1)]
            for x, xi in enumerate(range(li, i + 1), 1):
                lx = l1[xi]
                prev, cur, tdx = fd[x - 1], fd[x], td[xi]
                # row the non-tree case reads: the forest left of x's subtree
                fp = fd[lx - li]
                left = cur[0]
                if lx == li:  # x is on i's leftmost path
                    for y, yj, q, on_path in cj:
                        v = prev[y] + 1.0
                        d = left + 1.0
                        if d < v:
                            v = d
                        if on_path:
                            key = xi * w + yj
                            cost = rename.get(key)
                            if cost is None:
                                cost = rename[key] = _rename_cost(n1[xi], n2[yj], structure_only)
                            d = prev[y - 1] + cost
                            if d < v:
                                v = d
                            tdx[yj] = v
                        else:
                            d = fp[q] + tdx[yj]
                            if d < v:
                                v = d
                        cur[y] = left = v
                else:
                    for y, yj, q, _ in cj:
                        v = prev[y] + 1.0
                        d = left + 1.0
                        if d < v:
                            v = d
                        d = fp[q] + tdx[yj]
                        if d < v:
                            v = d
                        cur[y] = left = v
    return td[-1][-1]


def teds_tree(html: str) -> TableNode:
    """The tree TEDS scores: `html` with formatting tags stripped, parsed.
    Parse once when one table is scored more than once."""
    return parse_table_tree(strip_formatting_tags(html))


def teds_score(gt_html: str, pred_html: str, structure_only: bool = False) -> float:
    """TEDS in [0,1]; 1.0 = identical. Normalizes by descendant-element
    count max (excluding the <table> root), matching reference teds.py:76-84."""
    return teds_of_trees(teds_tree(gt_html), teds_tree(pred_html), structure_only)


def teds_of_trees(t_gt: TableNode, t_pred: TableNode,
                  structure_only: bool = False) -> float:
    """`teds_score` over trees from `teds_tree`."""
    n_desc = max(t_gt.size() - 1, t_pred.size() - 1)
    if n_desc == 0:
        return 1.0
    dist = tree_edit_distance(t_pred, t_gt, structure_only=structure_only)
    return 1.0 - dist / n_desc


# ---------------------------------------------------------------------------
# HTML table -> grid cells (reference utils/utils.py:162-244 semantics)
# ---------------------------------------------------------------------------


def html_table_to_grid_cells(table_html: str) -> list[dict]:
    """Parse a <table> into span-aware grid cells.

    Returns [{row, col, rowspan, colspan, text}] with grid-fill semantics:
    cells skip over positions already occupied by earlier row/colspans.
    Whitespace-stripped text, like the reference's get_text(strip=True).
    """
    tree = parse_table_tree(table_html)
    rows: list[list[TableNode]] = []

    def collect(n: TableNode):
        if n.tag == "tr":
            rows.append([c for c in n.children if c.tag == "td"])
        else:
            for c in n.children:
                collect(c)

    collect(tree)

    max_cols = 0
    for r in rows:
        max_cols = max(max_cols, sum(c.colspan for c in r))
    grid = [[None] * max_cols for _ in rows]
    out = []
    for ri, r in enumerate(rows):
        ci = 0
        for cell in r:
            while ci < max_cols and grid[ri][ci] is not None:
                ci += 1
            text = "".join(t for t in cell.content if len(t) == 1 or not t.startswith("<")).strip()
            for dr in range(cell.rowspan):
                for dc in range(cell.colspan):
                    if ri + dr < len(grid) and ci + dc < max_cols:
                        grid[ri + dr][ci + dc] = True
            out.append({
                "row": ri, "col": ci,
                "rowspan": cell.rowspan, "colspan": cell.colspan,
                "text": text,
            })
            ci += cell.colspan
    return out


def is_complex_table(cells: list[dict]) -> bool:
    """Any cell spanning >1 row or col (reference table_evaluator.py:93-100)."""
    return any(c["rowspan"] > 1 or c["colspan"] > 1 for c in cells)


def table_shape(cells: list[dict]) -> tuple[int, int]:
    """(num_rows, num_cols) from grid cells (reference utils.py:215-244)."""
    nr = nc = 0
    for c in cells:
        nr = max(nr, c["row"] + c["rowspan"])
        nc = max(nc, c["col"] + c["colspan"])
    return nr, nc


def grid_cells_to_html(cells: list[dict]) -> str:
    """Canonical re-serialization of grid cells (F3, reference
    utils/utils.py table export direction): anchor cells grouped by row,
    ordered (row, col), td-only with span attributes. For well-formed
    grids this is an exact inverse of html_table_to_grid_cells:
    parse(serialize(cells)) == cells."""
    from html import escape

    nr, _ = table_shape(cells)
    by_row: dict[int, list[dict]] = {}
    for c in sorted(cells, key=lambda c: (c["row"], c["col"])):
        by_row.setdefault(c["row"], []).append(c)
    parts = ["<table>"]
    for r in range(nr):
        parts.append("<tr>")
        for c in by_row.get(r, []):
            attrs = ""
            if c["colspan"] > 1:
                attrs += f' colspan="{c["colspan"]}"'
            if c["rowspan"] > 1:
                attrs += f' rowspan="{c["rowspan"]}"'
            parts.append(f"<td{attrs}>{escape(c['text'], quote=False)}</td>")
        parts.append("</tr>")
    parts.append("</table>")
    return "".join(parts)
