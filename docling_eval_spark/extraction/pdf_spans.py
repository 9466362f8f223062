"""PDF-path extraction: positioned text spans -> reading-order text.

The reference's PDF side parses pages into DoclingDocument items with
bbox provenance and exports reading-ordered text (docling_eval/utils/
utils.py:115-159 loads pages via the docling-parse backend;
evaluators/readingorder_evaluator.py consumes the per-item bboxes). No
PDF rasterizer ships in this sandbox, so the CONTENT-STREAM STAND-IN is
a deterministic binary span format ("SPN1"): a page of positioned text
runs serialized in SCRAMBLED order — exactly the property that makes real
PDF extraction hard (content streams carry no reading order).

The extractor therefore does the real work: parse the binary, recover
reading order from GEOMETRY (the column-aware rule shared with the layout
pipeline — functions/reading_order.predict_reading_order), and re-join
the text using the page's typography (paragraph-initial lines are
indented). The gate is byte-identity with the text the spans were built
from, which only holds if both the ordering and the joint reconstruction
are correct — a closed-form gate on the whole PDF path.

Format SPN1 (integers big-endian):
    b"SPN1" | u32 n_spans | n_spans * ( u16 x | u16 y | u16 w | u16 h |
                                        u16 len | len bytes utf-8 text )
Coordinates are u16; documents longer than one column's 65k-unit height
wrap into additional columns (up to 16, ~86k lines / ~500k words per doc),
beyond which build raises.

Layout convention (what a justified 1-2 column page gives a parser):
    - lines fill 1 or 2 columns (col base x = 20 / 460), top to bottom;
    - every line of a paragraph after the first sits at the column base;
      the FIRST line of each paragraph is indented +8 (typographic indent);
    - words are chunked ~6 per line.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ..session import row_stage

LINE_H = 12
COL_W = 400
COL_GAP = 40
INDENT = 8
X0 = 20


def build_pdf_blob(doc_id: int, text: str) -> bytes:
    """Serialize `text` into scrambled positioned spans (GT by construction)."""
    lines: list[tuple[bool, str]] = []  # (paragraph_initial, chunk)
    for para in text.split("\n\n"):
        words = para.split(" ")
        for i in range(0, len(words), 6):
            lines.append((i == 0, " ".join(words[i:i + 6])))
    n_cols = 1 + (doc_id % 2)
    # u16 coordinate budget: keep y < 65000 by adding columns as needed.
    # Columns are capped at 16: beyond ~18 columns the page gets wide
    # enough that the reading-order band tolerance (0.05 * page width)
    # exceeds the column span and geometric recovery is no longer
    # guaranteed — fail fast instead of producing an unreadable layout.
    max_rows = (65000 - 10) // LINE_H
    n_cols = max(n_cols, -(-len(lines) // max_rows))
    if n_cols > 16:
        raise ValueError(
            f"document too large for SPN1 layout ({len(lines)} lines; "
            f"max {16 * max_rows})")
    per_col = -(-len(lines) // n_cols)  # ceil
    spans: list[tuple[int, int, int, int, str]] = []
    for k, (initial, chunk) in enumerate(lines):
        col, row = divmod(k, per_col)
        x = X0 + col * (COL_W + COL_GAP) + (INDENT if initial else 0)
        y = 10 + row * LINE_H
        spans.append((x, y, COL_W, LINE_H - 2, chunk))
    rng = np.random.RandomState(doc_id % (2**31) or 7)
    order = rng.permutation(len(spans))
    out = [b"SPN1", struct.pack(">I", len(spans))]
    for idx in order:
        x, y, w, h, t = spans[idx]
        tb = t.encode("utf-8")
        out.append(struct.pack(">5H", x, y, w, h, len(tb)))
        out.append(tb)
    return b"".join(out)


def parse_pdf_blob(blob: bytes) -> list[tuple[int, int, int, int, str]]:
    """SPN1 -> [(x, y, w, h, text)] in STREAM order (scrambled)."""
    if bytes(blob[:4]) != b"SPN1":
        raise ValueError("not an SPN1 blob")
    (n,) = struct.unpack(">I", bytes(blob[4:8]))
    off = 8
    spans = []
    blob = bytes(blob)
    for _ in range(n):
        x, y, w, h, ln = struct.unpack(">5H", blob[off:off + 10])
        off += 10
        spans.append((x, y, w, h, blob[off:off + ln].decode("utf-8")))
        off += ln
    return spans


def spans_to_text(spans: list[tuple[int, int, int, int, str]]) -> str:
    """Geometric reading order + typographic joints.

    Paragraph-initial spans (x offset == INDENT from their column base)
    open a "\n\n" joint; continuation lines join with " ".
    """
    from ..functions.reading_order import predict_reading_order

    if not spans:
        return ""
    boxes = np.array([[x, y, x + w, y + h] for x, y, w, h, _ in spans],
                     dtype=np.float64)
    order = predict_reading_order(boxes)
    parts: list[str] = []
    for j, idx in enumerate(order):
        x = spans[idx][0]
        is_initial = (x - X0) % (COL_W + COL_GAP) == INDENT
        if j > 0:
            parts.append("\n\n" if is_initial else " ")
        parts.append(spans[idx][4])
    return "".join(parts)


EXTRACT_PDF_SCHEMA = "doc_id bigint, extracted_text string, n_spans int"


def extract_pdf_pages(pdf_pages: DataFrame) -> DataFrame:
    """(doc_id, pdf binary) -> reading-ordered text, Arrow-batched."""
    def _pdf_text(doc_id, blob):
        spans = parse_pdf_blob(blob)
        yield doc_id, spans_to_text(spans), len(spans)

    return row_stage(pdf_pages.select("doc_id", "pdf"), _pdf_text,
                     EXTRACT_PDF_SCHEMA)
