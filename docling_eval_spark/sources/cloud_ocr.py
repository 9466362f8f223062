"""Cloud-OCR response parsers: provider JSON -> unified item rows.

The reference ships three cloud prediction providers whose network calls
are out of scope here, but whose response-JSON -> document conversion is
pure, portable logic this module rebuilds Spark-first:

  - AWS Textract   (aws_prediction_provider.py:87-499, esp.
    convert_aws_output_to_docling :190-310 and process_table :113-188)
  - Azure Doc Intelligence (azure_prediction_provider.py:93-313)
  - Google Document AI (google_prediction_provider.py:89-255)

Shape: each parser is a pure function (response dict -> ordered row
tuples) unit-testable without Spark; `parse_responses` runs them in ONE
Arrow-batched mapInPandas stage over (doc_id, response_json) rows — at
100 TB the responses are just another binary/string column, massively
parallel, no driver-side loops. A user with a bucket of Textract/Azure/
Google JSON scores it by joining these rows against GT spans with the
existing evaluators.

Faithful reference behaviors (kept deliberately, cited):
  - Textract WORD/LAYOUT_* bboxes are normalized and scaled by page
    dims, but process_table cell bboxes stay RAW normalized
    (aws_prediction_provider.py:163-199 never multiplies) — mirrored.
  - Textract header heuristic: first row column_header, first column
    row_header (aws :176-178). Azure sets both False (:301-304).
  - Azure responses mix snake_case and camelCase key styles across SDK
    versions (the reference itself reads "page_range" but
    "boundingRegions") — both spellings are accepted everywhere.
  - Google num_cols grows to the max cells-per-row; row/col spans come
    from rowSpan/colSpan; header rows precede body rows in row index
    (google :229-251).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..session import row_stage

CLOUD_OCR_ITEMS_SCHEMA = (
    "doc_id bigint, item_idx int, kind string, page_no int, label string, "
    "text string, l double, t double, r double, b double, "
    "row_idx int, col_idx int, row_span int, col_span int, "
    "column_header boolean, row_header boolean, num_rows int, num_cols int"
)


# Textract LAYOUT_* block -> docling label (aws_prediction_provider.py
# :270-299 add_* dispatch: title/heading/list/figure/header/footer keep
# their labels; PAGE_NUMBER and KEY_VALUE are stored as plain text)
_TEXTRACT_LABELS = {
    "LAYOUT_TITLE": "title",
    "LAYOUT_HEADER": "page_header",
    "LAYOUT_FOOTER": "page_footer",
    "LAYOUT_SECTION_HEADER": "section_header",
    "LAYOUT_PAGE_NUMBER": "text",
    "LAYOUT_LIST": "list_item",
    "LAYOUT_FIGURE": "picture",
    "LAYOUT_KEY_VALUE": "text",
    "LAYOUT_TABLE": "table",
    "LAYOUT_TEXT": "text",
}

# Azure paragraph role -> docling label (azure :237-252)
_AZURE_ROLES = {
    "sectionHeading": "section_header",
    "title": "title",
    "footnote": "text",
    "pageHeader": "page_header",
    "pageFooter": "page_footer",
    "pageNumber": "text",
}


def _row(idx: int, kind: str, page_no: int, label=None, text=None,
         bbox=(None, None, None, None), row_idx=None, col_idx=None,
         row_span=None, col_span=None, column_header=None, row_header=None,
         num_rows=None, num_cols=None) -> tuple:
    l, t, r, b = bbox
    return (idx, kind, page_no, label, text, l, t, r, b, row_idx, col_idx,
            row_span, col_span, column_header, row_header, num_rows, num_cols)


def _get(d: dict, *keys, default=None):
    """First present key — Azure SDK as_dict mixes snake/camel case."""
    for k in keys:
        if k in d:
            return d[k]
    return default


# -- AWS Textract -------------------------------------------------------------


def _geom_bbox(geometry: dict) -> tuple:
    """BoundingBox{Left,Top,Width,Height} -> (l,t,r,b), zeros when absent
    (aws :87-99)."""
    bb = (geometry or {}).get("BoundingBox")
    if not bb:
        return (0.0, 0.0, 0.0, 0.0)
    left, top = bb.get("Left", 0), bb.get("Top", 0)
    return (float(left), float(top), float(left + bb.get("Width", 0)),
            float(top + bb.get("Height", 0)))


def _textract_cell_text(cell: dict, blocks_map: dict) -> str:
    """CHILD->WORD text join (aws get_cell_content :101-111)."""
    text = ""
    for rel in cell.get("Relationships", []):
        if rel.get("Type") == "CHILD":
            for cid in rel.get("Ids", []):
                child = blocks_map.get(cid, {})
                if child.get("BlockType") == "WORD":
                    text += child.get("Text", "") + " "
    return text.strip()


def parse_textract(resp: dict, page_w: float, page_h: float) -> list[tuple]:
    """Textract Blocks -> ordered item rows (aws
    convert_aws_output_to_docling :190-310). Layout/word bboxes are
    normalized-scaled by (page_w, page_h); table cell bboxes stay raw
    normalized like the reference's process_table."""
    blocks = resp.get("Blocks", [])
    blocks_map = {b["Id"]: b for b in blocks if "Id" in b}
    rows: list[tuple] = []
    idx = 0
    page_no = 1

    def scaled(block) -> tuple:
        l, t, r, b = _geom_bbox(block.get("Geometry", {}))
        return (l * page_w, t * page_h, r * page_w, b * page_h)

    for block in blocks:
        btype = block.get("BlockType")
        if btype == "PAGE":
            page_no = int(block.get("Page", 1))
            rows.append(_row(idx, "page", page_no,
                             bbox=(0.0, 0.0, float(page_w), float(page_h))))
            idx += 1
        elif btype == "WORD" and int(block.get("Page", 1)) == page_no:
            text = block.get("Text")
            if text is not None and block.get("Geometry") is not None:
                rows.append(_row(idx, "word", page_no, text=text,
                                 bbox=scaled(block)))
                idx += 1
        elif btype in _TEXTRACT_LABELS:
            rows.append(_row(idx, "span", page_no,
                             label=_TEXTRACT_LABELS[btype],
                             text=block.get("Text", ""), bbox=scaled(block)))
            idx += 1
        elif btype == "TABLE":
            page_no = int(block.get("Page", 1))
            cells = [blocks_map[cid]
                     for rel in block.get("Relationships", [])
                     if rel.get("Type") == "CHILD"
                     for cid in rel.get("Ids", [])
                     if blocks_map.get(cid, {}).get("BlockType") == "CELL"]
            num_rows = max((c.get("RowIndex", 0) for c in cells), default=0)
            num_cols = max((c.get("ColumnIndex", 0) for c in cells),
                           default=0)
            rows.append(_row(idx, "table", page_no, label="table",
                             bbox=_geom_bbox(block.get("Geometry", {})),
                             num_rows=num_rows, num_cols=num_cols))
            idx += 1
            for cell in cells:
                ri = cell.get("RowIndex", 1) - 1
                ci = cell.get("ColumnIndex", 1) - 1
                rows.append(_row(
                    idx, "table_cell", page_no,
                    text=_textract_cell_text(cell, blocks_map),
                    bbox=_geom_bbox(cell.get("Geometry", {})),
                    row_idx=ri, col_idx=ci,
                    row_span=cell.get("RowSpan", 1),
                    col_span=cell.get("ColumnSpan", 1),
                    column_header=(ri == 0), row_header=(ci == 0)))
                idx += 1
    return rows


# -- Azure Document Intelligence ----------------------------------------------


def _polygon_bbox(polygon) -> tuple:
    """Flat [x1,y1,..,x4,y4] or point-dict polygon -> (l,t,r,b)
    (azure extract_bbox_from_polygon :93-113)."""
    if isinstance(polygon, list) and len(polygon) >= 8 and all(
            isinstance(p, (int, float)) for p in polygon):
        return (float(polygon[0]), float(polygon[1]),
                float(polygon[4]), float(polygon[5]))
    if isinstance(polygon, list) and len(polygon) >= 4 and all(
            isinstance(p, dict) and "x" in p and "y" in p for p in polygon):
        return (float(polygon[0]["x"]), float(polygon[0]["y"]),
                float(polygon[2]["x"]), float(polygon[2]["y"]))
    return (0.0, 0.0, 0.0, 0.0)


def parse_azure(resp: dict) -> list[tuple]:
    """Azure analyze_result -> ordered item rows: pages+words, tables,
    role-labeled paragraphs, figures (azure :114-313)."""
    rows: list[tuple] = []
    idx = 0
    for page in resp.get("pages", []):
        page_no = int(_get(page, "page_number", "pageNumber", default=1))
        w = float(_get(page, "width", default=0) or 0)
        h = float(_get(page, "height", default=0) or 0)
        rows.append(_row(idx, "page", page_no, bbox=(0.0, 0.0, w, h)))
        idx += 1
        for word in page.get("words", []):
            content = word.get("content")
            polygon = word.get("polygon")
            if content is not None and polygon is not None:
                rows.append(_row(idx, "word", page_no, text=content,
                                 bbox=_polygon_bbox(polygon)))
                idx += 1
    for table in resp.get("tables", []):
        page_range = _get(table, "page_range", "pageRange", default={})
        page_no = int(_get(page_range, "first_page_number",
                           "firstPageNumber", default=1))
        regions = _get(table, "bounding_regions", "boundingRegions",
                       default=[{}])
        rows.append(_row(
            idx, "table", page_no, label="table",
            bbox=_polygon_bbox((regions or [{}])[0].get("polygon", [])),
            num_rows=int(_get(table, "row_count", "rowCount", default=0)),
            num_cols=int(_get(table, "column_count", "columnCount",
                              default=0))))
        idx += 1
        for cell in table.get("cells", []):
            cregions = _get(cell, "bounding_regions", "boundingRegions",
                            default=[{}])
            rows.append(_row(
                idx, "table_cell", page_no,
                text=cell.get("content", "").strip(),
                bbox=_polygon_bbox((cregions or [{}])[0].get("polygon", [])),
                row_idx=int(_get(cell, "row_index", "rowIndex", default=0)),
                col_idx=int(_get(cell, "column_index", "columnIndex",
                                 default=0)),
                row_span=int(_get(cell, "row_span", "rowSpan", default=1)),
                col_span=int(_get(cell, "column_span", "columnSpan",
                                  default=1)),
                # Azure provider never marks headers (azure :301-304)
                column_header=False, row_header=False))
            idx += 1
    for para in resp.get("paragraphs", []):
        region = _get(para, "bounding_regions", "boundingRegions",
                      default=[{}])[0]
        page_no = int(_get(region, "page_number", "pageNumber", default=1))
        text = para.get("content", "")
        label = _AZURE_ROLES.get(para.get("role"), "text")
        rows.append(_row(idx, "span", page_no, label=label, text=text,
                         bbox=_polygon_bbox(region.get("polygon", []))))
        idx += 1
    for fig in resp.get("figures", []):
        region = _get(fig, "bounding_regions", "boundingRegions",
                      default=[{}])[0]
        page_no = int(_get(region, "page_number", "pageNumber", default=1))
        rows.append(_row(idx, "span", page_no, label="picture",
                         bbox=_polygon_bbox(region.get("polygon", []))))
        idx += 1
    return rows


# -- Google Document AI -------------------------------------------------------


def _vertices_bbox(vertices) -> tuple:
    """vertices[0]/[2] corner pair -> (l,t,r,b) (google :89-98)."""
    if isinstance(vertices, list) and len(vertices) >= 4:
        return (float(vertices[0].get("x", 0)), float(vertices[0].get("y", 0)),
                float(vertices[2].get("x", 0)), float(vertices[2].get("y", 0)))
    return (0.0, 0.0, 0.0, 0.0)


def _anchor_text(layout: dict, full_text: str) -> str:
    """textAnchor.textSegments -> substring join (google :103-115, 172-185;
    indices arrive as strings from MessageToDict, hence int())."""
    text = ""
    for seg in (layout or {}).get("textAnchor", {}).get("textSegments", []):
        start = int(seg.get("startIndex", 0))
        end = int(seg.get("endIndex", 0))
        if full_text and start < len(full_text):
            text += full_text[start:end]
    return text


def parse_google(resp: dict) -> list[tuple]:
    """Google Document AI document -> ordered item rows: per page, the
    page item, paragraph spans, then tables with header rows before body
    rows (google convert_google_output_to_docling :144-255)."""
    full_text = resp.get("text", "")
    rows: list[tuple] = []
    idx = 0
    for page in resp.get("pages", []):
        page_no = int(page.get("pageNumber", 1))
        dim = page.get("dimension", {})
        rows.append(_row(idx, "page", page_no,
                         bbox=(0.0, 0.0, float(dim.get("width", 0)),
                               float(dim.get("height", 0)))))
        idx += 1
        for para in page.get("paragraphs", []):
            layout = para.get("layout", {})
            text = _anchor_text(layout, full_text)
            bbox = _vertices_bbox(
                layout.get("boundingPoly", {}).get("vertices", []))
            rows.append(_row(idx, "span", page_no, label="text", text=text,
                             bbox=bbox))
            idx += 1
        for table in page.get("tables", []):
            header_rows = table.get("headerRows", [])
            body_rows = table.get("bodyRows", [])
            num_rows = len(header_rows) + len(body_rows)
            num_cols = max((len(r.get("cells", []))
                            for r in header_rows + body_rows), default=0)
            rows.append(_row(
                idx, "table", page_no, label="table",
                bbox=_vertices_bbox(table.get("layout", {})
                                    .get("boundingPoly", {})
                                    .get("vertices", [])),
                num_rows=num_rows, num_cols=num_cols))
            idx += 1
            for row_index, (trow, is_header) in enumerate(
                    [(r, True) for r in header_rows]
                    + [(r, False) for r in body_rows]):
                for cell_index, cell in enumerate(trow.get("cells", [])):
                    layout = cell.get("layout", {})
                    rows.append(_row(
                        idx, "table_cell", page_no,
                        text=_anchor_text(layout, full_text).strip(),
                        bbox=_vertices_bbox(layout.get("boundingPoly", {})
                                            .get("vertices", [])),
                        row_idx=row_index, col_idx=cell_index,
                        row_span=int(cell.get("rowSpan", 1)),
                        col_span=int(cell.get("colSpan", 1)),
                        column_header=is_header,
                        row_header=(not is_header and cell_index == 0)))
                    idx += 1
    return rows


_PARSERS = {"textract": parse_textract, "azure": parse_azure,
            "google": parse_google}


def detect_provider(resp: dict) -> str | None:
    """Sniff which provider produced a response JSON."""
    if "Blocks" in resp:
        return "textract"
    if "paragraphs" in resp or "tables" in resp or (
            resp.get("pages") and "words" in (resp["pages"][0] or {})):
        return "azure"
    if "text" in resp or resp.get("pages"):
        return "google"
    return None


def parse_responses(df: DataFrame, provider: str | None = None,
                    key: str = "doc_id",
                    response_col: str = "response_json",
                    page_w_col: str | None = None,
                    page_h_col: str | None = None) -> DataFrame:
    """One Arrow stage: (doc_id, response_json[, page dims]) -> unified
    item rows. provider=None sniffs per row (mixed buckets). Textract
    needs page dims for its normalized-coordinate scaling (the reference
    takes them from GT page images, aws :205-210); default 612x792 US
    Letter points when no columns are given or a row's are null."""
    cols = [key, response_col]
    if page_w_col:
        cols += [page_w_col, page_h_col]

    def _items(doc_id, response_json, w=None, h=None):
        resp = json.loads(response_json)
        prov = provider or detect_provider(resp)
        if prov == "textract":
            items = parse_textract(resp, 612.0 if w is None else float(w),
                                   792.0 if h is None else float(h))
        else:
            items = _PARSERS[prov](resp) if prov else []
        for item in items:
            yield (int(doc_id), *item)

    return row_stage(df.select(*cols), _items, CLOUD_OCR_ITEMS_SCHEMA)
