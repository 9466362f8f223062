"""Ground-truth dataset builders: annotation records -> the engine's flat
span/table data model.

Rebuilds of two reference builder families:

  - DPBench-style (docling_eval/dataset_builders/dpbench_builder.py
    :274-361 `iterate` + :140-276 `_update_gt_doc`): a `reference.json`
    of per-file element annotations (normalized corner coordinates,
    category label, text/html content) becomes one span row per element,
    with the reference's label mapping, TOPLEFT bbox scaling by page
    dims, newline->space text normalization (Index keeps raw text — the
    reference reassigns it before building index rows), charspan
    (0, len(text)), and table shapes parsed from the content HTML.

  - OTSL/HTML table-style (dataset_builders/otsl_table_dataset_builder.py
    :157-252): each record's table HTML becomes span-aware grid cells
    (F2) plus shape/complexity columns and a canonical re-serialization
    (F3) whose re-parse is byte-exact.

Spark-first: annotations are parsed with `from_json` against an explicit
schema, elements explode natively, bboxes/labels/charspans are pure JVM
column work; only the table-HTML grid parse runs in an Arrow-batched
stage — and only over the rows that actually carry a table.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.teds import (
    grid_cells_to_html,
    html_table_to_grid_cells,
    is_complex_table,
    table_shape,
)
from ..session import literal_frame, row_stage

# annotation element labels -> document-model labels
# (dpbench_builder.py:174-276 branch-by-branch)
LABEL_MAP = {
    "Paragraph": "text",
    "Header": "page_header",
    "Footer": "page_footer",
    "Caption": "caption",
    "Footnote": "footnote",
    "Heading1": "section_header",
    "List": "list_item",
    "Equation": "formula",
    "Figure": "picture",
    "Chart": "picture",
    "Table": "table",
    "Index": "document_index",
}
SRC_LABELS = list(LABEL_MAP)

ANNOTATION_SCHEMA = (
    "struct<page_width:double,page_height:double,"
    "elements:array<struct<label:string,"
    "coordinates:array<struct<x:double,y:double>>,"
    "content:struct<text:string,html:string>>>>"
)


def _table_shape(key_val, elem_idx, html):
    yield (key_val, elem_idx, *table_shape(html_table_to_grid_cells(html)))


def dpbench_spans(anno_df: DataFrame, key: str = "doc_id",
                  anno_col: str = "anno") -> DataFrame:
    """(key, elem_idx, label, l, t, r, b, text, charspan_end, n_rows,
    n_cols) from annotation-JSON rows. Everything except the table-HTML
    grid parse is native column work; table rows are filtered BEFORE the
    Python stage and joined back on (key, elem_idx)."""
    parsed = anno_df.select(
        key, F.from_json(F.col(anno_col), ANNOTATION_SCHEMA).alias("a"))
    el = parsed.select(
        key,
        F.col("a.page_width").alias("_W"), F.col("a.page_height").alias("_H"),
        F.posexplode("a.elements").alias("elem_idx", "e"),
    )
    xs = F.transform(F.col("e.coordinates"), lambda c: c["x"])
    ys = F.transform(F.col("e.coordinates"), lambda c: c["y"])
    label_map = F.create_map(
        *[F.lit(x) for kv in LABEL_MAP.items() for x in kv])
    # dpbench_builder.py:154: text newlines become spaces; the Index
    # branch (:187-233) goes back to the RAW text for its rows — both
    # mirrored. charspan (0, len) is on the normalized text (:167), whose
    # length equals the raw length (1:1 replacement).
    norm_text = F.regexp_replace(F.col("e.content.text"), "\n", " ")
    text = F.when(F.col("e.label") == "Index", F.col("e.content.text")) \
        .otherwise(norm_text)
    base = el.select(
        key, "elem_idx",
        F.element_at(label_map, F.col("e.label")).alias("label"),
        F.round(F.array_min(xs) * F.col("_W"), 6).alias("l"),
        F.round(F.array_min(ys) * F.col("_H"), 6).alias("t"),
        F.round(F.array_max(xs) * F.col("_W"), 6).alias("r"),
        F.round(F.array_max(ys) * F.col("_H"), 6).alias("b"),
        text.alias("text"),
        F.length(norm_text).alias("charspan_end"),
        F.col("e.label").alias("_src"),
        F.col("e.content.html").alias("html"),
    )
    ktype = dict(anno_df.dtypes)[key]  # bigint doc ids or string filenames
    shapes = row_stage(
        base.where(F.col("_src") == "Table").select(key, "elem_idx", "html"),
        _table_shape, f"{key} {ktype}, elem_idx int, _tnr int, _tnc int")
    out = base.join(shapes, on=[key, "elem_idx"], how="left")
    # Index tables: the reference's "ultra approximate" 2-column index
    # table (dpbench_builder.py:190-196): one row per raw-text line.
    n_rows = (
        F.when(F.col("_src") == "Index", F.size(F.split(F.col("text"), "\n")))
        .when(F.col("_src") == "Table", F.col("_tnr"))
    )
    n_cols = (
        F.when(F.col("_src") == "Index", F.lit(2))
        .when(F.col("_src") == "Table", F.col("_tnc"))
    )
    return out.select(
        key, "elem_idx", "label", "l", "t", "r", "b", "text",
        "charspan_end",
        n_rows.cast("int").alias("n_rows"), n_cols.cast("int").alias("n_cols"),
    )


def read_reference_json(spark: SparkSession, path: str,
                        n_partitions: int = 16) -> DataFrame:
    """A real `reference.json` file -> (doc_id, anno) rows. The file is a
    single JSON object keyed by filename (dpbench_builder.py:289-296
    loads it driver-side too — it is annotation metadata, small by
    construction); elements then explode distributed. Filenames are
    sorted for deterministic ordering, like the reference (:293)."""
    with open(path) as f:
        gt = json.load(f)
    rows = [(name, json.dumps(gt[name])) for name in sorted(gt)]
    return literal_frame(spark, rows, "doc_id string, anno string") \
        .repartition(n_partitions, "doc_id")


def fixture_annotations(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Deterministic annotation fixture derived from the documents table —
    (key, anno) JSON built NATIVELY (to_json of nested structs), so the
    builder gate exercises a full JSON round-trip with zero Python.
    doc_id d gets k = d%4+2 elements cycling through all 12 source
    labels; element j sits at normalized x in [.05+.01j, .25+.01j],
    y in [.1+.02j, .25+.02j] on a 612x792 page."""
    k = (F.col(key) % 4 + 2).cast("int")
    labels = F.array(*[F.lit(s) for s in SRC_LABELS])
    table_html = ("<table><tr><td>a</td><td>b</td><td>c</td></tr>"
                  "<tr><td>d</td><td>e</td><td>f</td></tr></table>")

    def elem(j):
        x1 = F.lit(0.05) + j * F.lit(0.01)
        y1 = F.lit(0.1) + j * F.lit(0.02)
        x2 = x1 + F.lit(0.2)
        y2 = y1 + F.lit(0.15)
        lab = F.element_at(labels, ((F.col(key) + j) % 12 + 1).cast("int"))
        return F.struct(
            lab.alias("label"),
            F.array(
                F.struct(x1.alias("x"), y1.alias("y")),
                F.struct(x2.alias("x"), y1.alias("y")),
                F.struct(x2.alias("x"), y2.alias("y")),
                F.struct(x1.alias("x"), y2.alias("y")),
            ).alias("coordinates"),
            F.struct(
                F.concat(F.lit("elem "), F.col(key).cast("string"),
                         F.lit("\nL"), j.cast("string")).alias("text"),
                F.when(lab == "Table", F.lit(table_html))
                .otherwise(F.lit("")).alias("html"),
            ).alias("content"),
        )

    anno = F.to_json(F.struct(
        F.lit(612.0).alias("page_width"),
        F.lit(792.0).alias("page_height"),
        F.transform(F.sequence(F.lit(0), k - 1), elem).alias("elements"),
    ))
    return docs.select(key, anno.alias("anno"))


# -- DocLayNet/COCO-style layout builder --------------------------------------

# doclaynet_v1_builder.py:199-213 label map; unknown labels default to text
DOCLAYNET_LABELS = [
    "caption", "footnote", "formula", "list_item", "page_footer",
    "page_header", "picture", "section_header", "table", "text", "title",
]

DOCLAYNET_ROW_SCHEMA = (
    "struct<page_width:double,page_height:double,"
    "labels:array<string>,bboxes:array<array<double>>,"
    "contents:array<string>>"
)


def doclaynet_spans(df: DataFrame, key: str = "doc_id",
                    anno_col: str = "anno") -> DataFrame:
    """DocLayNet-style COCO layout rows -> span rows.

    Mirrors doclaynet_v1_builder.py:180-360: per-element string label
    mapped through the fixed table (unknown -> text), COCO [l, t, w, h]
    bbox converted to l/t/r/b, charspan (0, len(content)). Fully native:
    from_json + posexplode over zipped arrays; no Python stage at all."""
    parsed = df.select(key, F.from_json(F.col(anno_col),
                                        DOCLAYNET_ROW_SCHEMA).alias("a"))
    el = parsed.select(
        key,
        F.posexplode(F.arrays_zip(
            F.col("a.labels").alias("label"),
            F.col("a.bboxes").alias("box"),
            F.col("a.contents").alias("content"),
        )).alias("idx", "e"),
    )
    known = F.array(*[F.lit(s) for s in DOCLAYNET_LABELS])
    label = F.when(F.array_contains(known, F.col("e.label")), F.col("e.label")) \
        .otherwise(F.lit("text"))
    box = F.col("e.box")
    return el.select(
        key, "idx", label.alias("label"),
        F.round(box[0], 6).alias("l"),
        F.round(box[1], 6).alias("t"),
        F.round(box[0] + box[2], 6).alias("r"),
        F.round(box[1] + box[3], 6).alias("b"),
        F.col("e.content").alias("text"),
        F.length("e.content").alias("charspan_end"),
    )


# -- FUNSD/XFUND-style form KV builder ----------------------------------------

FUNSD_ROW_SCHEMA = (
    "struct<form:array<struct<id:int,text:string,label:string,"
    "box:array<double>,linking:array<array<int>>,"
    "words:array<struct<text:string,box:array<double>>>>>>"
)


def funsd_kv_cells(df: DataFrame, key: str = "doc_id",
                   anno_col: str = "anno") -> DataFrame:
    """FUNSD/XFUND-style form annotations -> classified KV graph cells.

    Mirrors funsd_builder.py:205-320: items with no linking whose label
    is header/other are omitted; links are the unique (src, tgt) pairs
    whose BOTH endpoints survive; final cell labels come from the
    degree-rule classifier (utils.py:536-587 classify_cells — here the
    native higher-order implementation in functions/kv_graph.py). Word
    cells surface as a per-cell count (the segmented-page word stream).
    Everything is JVM-side column work; the per-doc graph classify runs
    over collected-per-doc arrays (form graphs are tiny by nature)."""
    from ..functions.kv_graph import classify_kv_cells

    parsed = df.select(key, F.from_json(F.col(anno_col),
                                        FUNSD_ROW_SCHEMA).alias("a"))
    items = parsed.select(key, F.explode("a.form").alias("e")).where(
        ~((F.size(F.coalesce(F.col("e.linking"),
                             F.array().cast("array<array<int>>"))) == 0)
          & F.coalesce(F.col("e.label"), F.lit("other"))
          .isin("header", "other"))
    )
    cells = items.select(
        key,
        F.col("e.id").alias("cell_id"),
        F.col("e.text").alias("text"),
        F.round(F.col("e.box")[0], 6).alias("l"),
        F.round(F.col("e.box")[1], 6).alias("t"),
        F.round(F.col("e.box")[2], 6).alias("r"),
        F.round(F.col("e.box")[3], 6).alias("b"),
        F.size(F.coalesce(F.col("e.words"),
                          F.array().cast(
                              "array<struct<text:string,box:array<double>>>")))
        .alias("n_words"),
        F.coalesce(F.col("e.linking"), F.array().cast("array<array<int>>"))
        .alias("_linking"),
    )
    per_doc = cells.groupBy(key).agg(
        F.sort_array(F.collect_list("cell_id")).alias("_cells"),
        F.array_distinct(F.flatten(F.collect_list("_linking"))).alias("_pairs"),
    )
    # keep only links with both endpoints surviving (funsd_builder.py:293-298)
    links = F.filter(
        F.transform(F.col("_pairs"), lambda p: F.struct(
            p[0].cast("int").alias("src"), p[1].cast("int").alias("tgt"))),
        lambda l: F.array_contains(F.col("_cells"), l["src"])
        & F.array_contains(F.col("_cells"), l["tgt"]),
    )
    labeled = per_doc.select(
        key,
        F.explode(classify_kv_cells(F.col("_cells"), links)).alias("c"),
    ).select(key, F.col("c.cell_id").alias("cell_id"),
             F.col("c.label").alias("label"))
    return cells.drop("_linking").join(labeled, on=[key, "cell_id"])


# -- OmniDocBench-style builder -----------------------------------------------

# omnidocbench_builder.py:214-322, branch for branch; elements whose
# category has NO branch are dropped like the reference's logged else
OMNIDOC_LABEL_MAP = {
    "title": "title",
    "text_block": "text",
    "text_mask": "text",
    "table": "table",
    "table_caption": "caption",
    "table_footnote": "footnote",
    "table_mask": "text",
    "figure": "picture",
    "figure_caption": "caption",
    "figure_footnote": "footnote",
    "equation_isolated": "formula",
    "equation_caption": "caption",
    "code_txt": "text",
    "abandon": "text",
    "need_mask": "text",
    "header": "page_header",
    "footer": "page_footer",
    "reference": "text",
    "page_footnote": "footnote",
    "page_number": "page_footer",
}

OMNIDOC_ROW_SCHEMA = (
    "struct<page_info:struct<width:double,height:double>,"
    "layout_dets:array<struct<category_type:string,"
    "poly:array<double>,text:string,html:string>>>"
)


def omnidocbench_spans(df: DataFrame, key: str = "doc_id",
                       anno_col: str = "anno") -> DataFrame:
    """OmniDocBench annotations -> span rows (reference
    omnidocbench_builder.py:178-322): elements live under `layout_dets`;
    bbox = min/max over the flat `poly` [x1, y1, x2, y2, ...] list;
    `category_type` through the branch-for-branch label map; elements
    with an unmapped category are DROPPED (the reference's logged else
    adds nothing — `idx` keeps the original annotation position, so
    drops leave gaps); text is the annotation's `text` field when
    present, else the literal omitted-text placeholder (:183-185), with
    charspan (0, len). Fully native — poly min/max via index-aware
    transforms (array_min/max skip the nulled-out other coordinate)."""
    parsed = df.select(key, F.from_json(F.col(anno_col),
                                        OMNIDOC_ROW_SCHEMA).alias("a"))
    el = parsed.select(key, F.posexplode("a.layout_dets").alias("idx", "e"))
    poly = F.col("e.poly")
    xs = F.transform(poly, lambda v, i: F.when(i % 2 == 0, v))
    ys = F.transform(poly, lambda v, i: F.when(i % 2 == 1, v))
    label_map = F.create_map(
        *[F.lit(x) for kv in OMNIDOC_LABEL_MAP.items() for x in kv])
    text = F.coalesce(
        F.col("e.text"),
        F.concat(F.lit("&lt;omitted text for "),
                 F.col("e.category_type"), F.lit("&gt;")))
    return el.select(
        key, "idx",
        F.element_at(label_map, F.col("e.category_type")).alias("label"),
        F.round(F.array_min(xs), 6).alias("l"),
        F.round(F.array_min(ys), 6).alias("t"),
        F.round(F.array_max(xs), 6).alias("r"),
        F.round(F.array_max(ys), 6).alias("b"),
        text.alias("text"),
        F.length(text).alias("charspan_end"),
    ).where(F.col("label").isNotNull())


# -- pixparse-style OCR ground-truth builder ----------------------------------

PIXPARSE_ROW_SCHEMA = (
    "struct<pages:array<struct<text:array<string>,"
    "bbox:array<array<double>>,score:array<double>>>>"
)


def pixparse_segmented_pages(df: DataFrame, key: str = "doc_id",
                             anno_col: str = "anno") -> DataFrame:
    """pixparse-style `ground_truth.json` OCR annotations -> the engine's
    segmented-page model: map<int, array<struct<cell_id, text, l, t, r,
    b, score>>> (reference pixparse_builder.py:60-114: per page, zipped
    text/bbox/score become from-OCR textline cells; bbox is ltwh ->
    ltrb; pages number from 1). Fully native, and directly consumable by
    the page-granular OCR pipeline (plans/ocr_eval.py)."""
    parsed = df.select(key, F.from_json(F.col(anno_col),
                                        PIXPARSE_ROW_SCHEMA).alias("a"))

    def cells(p):
        # truncate to the SHORTEST list like the reference's zip()
        # (pixparse_builder.py:93) — arrays_zip would pad phantom
        # null cells on ragged annotations
        n = F.least(F.size(p["text"]), F.size(p["bbox"]), F.size(p["score"]))
        empty = F.array().cast(
            "array<struct<cell_id:int,text:string,l:double,t:double,"
            "r:double,b:double,score:double>>")
        return F.when(n <= 0, empty).otherwise(F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.struct(
                j.cast("int").alias("cell_id"),
                F.element_at(p["text"], j + 1).alias("text"),
                F.round(F.element_at(p["bbox"], j + 1)[0], 6).alias("l"),
                F.round(F.element_at(p["bbox"], j + 1)[1], 6).alias("t"),
                F.round(F.element_at(p["bbox"], j + 1)[0]
                        + F.element_at(p["bbox"], j + 1)[2], 6).alias("r"),
                F.round(F.element_at(p["bbox"], j + 1)[1]
                        + F.element_at(p["bbox"], j + 1)[3], 6).alias("b"),
                F.element_at(p["score"], j + 1).alias("score"),
            )))

    pages = F.map_from_entries(F.transform(
        F.col("a.pages"),
        lambda p, i: F.struct((i + 1).cast("int").alias("page_no"),
                              cells(p).alias("cells")),
    ))
    return parsed.select(key, pages.alias("gt_pages"))


# -- DocVQA-style QA builder --------------------------------------------------

DOCVQA_ROW_SCHEMA = (
    "struct<qa:array<struct<question:string,answers:array<string>>>>"
)


def docvqa_kv_cells(df: DataFrame, key: str = "doc_id",
                    anno_col: str = "anno") -> DataFrame:
    """DocVQA-style QA annotations -> KV graph cells with the reference's
    running-index scheme (docvqa_builder.py:104-145): each question is a
    KEY cell at the running index, its answers follow as VALUE cells,
    and every answer carries a bidirectional TO_VALUE/TO_KEY link pair —
    surfaced here as out-degree (question: n_answers, answer: 1). Fully
    native: per-qa start offsets come from an aggregate over the sliced
    sizes array; no Python stage."""
    parsed = df.select(key, F.from_json(F.col(anno_col),
                                        DOCVQA_ROW_SCHEMA).alias("a"))
    qa = F.col("a.qa")
    # a qa entry with no/null answers contributes zero VALUE cells and a
    # zero out-degree KEY — F.size(null) would be -1 and corrupt the
    # running index (deviation: the reference would raise iterating None)
    _answers = lambda q: F.coalesce(  # noqa: E731
        q["answers"], F.array().cast("array<string>"))
    sizes = F.transform(qa, lambda q: F.size(_answers(q)) + 1)

    def entry(q, i):
        start = F.aggregate(F.slice(sizes, 1, i), F.lit(0),
                            lambda acc, x: acc + x)
        question = F.array(F.struct(
            start.cast("int").alias("cell_id"),
            i.cast("int").alias("qa_idx"),
            F.lit("KEY").alias("label"),
            q["question"].alias("text"),
            F.size(_answers(q)).alias("n_out"),
        ))
        answers = F.transform(_answers(q), lambda a, j: F.struct(
            (start + 1 + j).cast("int").alias("cell_id"),
            i.cast("int").alias("qa_idx"),
            F.lit("VALUE").alias("label"),
            a.alias("text"),
            F.lit(1).alias("n_out"),
        ))
        return F.concat(question, answers)

    cells = parsed.select(
        key, F.explode(F.flatten(F.transform(qa, entry))).alias("c"))
    return cells.select(
        key, F.col("c.cell_id").alias("cell_id"),
        F.col("c.qa_idx").alias("qa_idx"),
        F.col("c.label").alias("label"), F.col("c.text").alias("text"),
        F.col("c.n_out").alias("n_out"))


# -- OTSL/HTML table dataset builder ------------------------------------------

TABLE_RECORD_SCHEMA = (
    "doc_id bigint, n_rows int, n_cols int, is_complex boolean, "
    "cells array<struct<row:int,col:int,rowspan:int,colspan:int,text:string>>, "
    "rebuilt_html string, roundtrip_exact boolean, grid_full boolean"
)


def _table_record(doc_id, html):
    cells = html_table_to_grid_cells(html)
    nr, nc = table_shape(cells)
    rebuilt = grid_cells_to_html(cells)
    covered = sum(c["rowspan"] * c["colspan"] for c in cells)
    yield (doc_id, nr, nc, is_complex_table(cells),
           [(c["row"], c["col"], c["rowspan"], c["colspan"], c["text"])
            for c in cells],
           rebuilt, html_table_to_grid_cells(rebuilt) == cells,
           covered == nr * nc)


def table_records(df: DataFrame, html_col: str = "table_html",
                  key: str = "doc_id") -> DataFrame:
    """OTSL-style table dataset builder (otsl_table_dataset_builder.py
    :157-252): table HTML -> span-aware grid-cell records with shape,
    complexity, the canonical re-serialization, and two self-gates
    (exact parse round-trip; full grid coverage)."""
    return row_stage(df.select(key, html_col), _table_record,
                     TABLE_RECORD_SCHEMA)


# -- DocLayNet v2 key-value graph builder -------------------------------------


def doclaynet_v2_kv(df: DataFrame, key: str = "doc_id",
                    ids_col: str = "annotation_ids",
                    boxes_col: str = "boxes",
                    segments_col: str = "segments",
                    links_col: str = "links") -> DataFrame:
    """DocLayNet-v2 key-value graph ingest (reference
    doclaynet_v2_builder.py create_kv_pairs :421-470 +
    populate_key_value_item :357-417), entirely in native higher-order
    expressions — no Python on the hot path.

    Input columns per doc: annotation ids array<string>, boxes
    array<array<double>> ([l,t,r,b]), segment texts array<string>, and
    links array<string> where links[i] names the KEY annotation its
    segment points at (null = unlinked). Semantics mirrored: a pair
    exists only when the link target id resolves (reference `links[i]
    in seg_with_id`); cells dedup by id and are sorted (sort_cell_ids);
    labels come from the F18 degree rules (classify_cells); the overall
    KV provenance bbox encloses every linked cell's bbox
    (get_overall_bbox :327-355).
    """
    from ..functions.kv_graph import classify_kv_cells

    ids, boxes = F.col(ids_col), F.col(boxes_col)
    segs, lnk = F.col(segments_col), F.col(links_col)
    n = F.size(segs)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
        .otherwise(F.array().cast("array<bigint>"))
    # value segment i -> key segment at array_position(ids, links[i]);
    # unresolvable / null links drop out of the pair filter
    pairs = F.filter(
        F.transform(idx, lambda i: F.struct(
            (F.array_position(ids, F.get(lnk, i.cast("int"))) - 1)
            .cast("int").alias("src"),
            i.cast("int").alias("tgt"))),
        lambda p: p["src"] >= 0)
    cells = F.array_sort(F.array_distinct(F.flatten(
        F.transform(pairs, lambda p: F.array(p["src"], p["tgt"])))))
    labeled = classify_kv_cells(cells, pairs)
    kv_l = F.array_min(F.transform(cells, lambda c: boxes[c][0]))
    kv_t = F.array_min(F.transform(cells, lambda c: boxes[c][1]))
    kv_r = F.array_max(F.transform(cells, lambda c: boxes[c][2]))
    kv_b = F.array_max(F.transform(cells, lambda c: boxes[c][3]))
    base = df.select(
        F.col(key), F.col(segments_col), F.col(boxes_col),
        F.explode(labeled).alias("cell"),
        kv_l.alias("kv_l"), kv_t.alias("kv_t"),
        kv_r.alias("kv_r"), kv_b.alias("kv_b"))
    c = F.col("cell.cell_id")
    return base.select(
        key, c.alias("cell_id"),
        F.col(segments_col)[c].alias("text"),
        F.col("cell.label").alias("label"),
        F.col(boxes_col)[c][0].alias("l"), F.col(boxes_col)[c][1].alias("t"),
        F.col(boxes_col)[c][2].alias("r"), F.col(boxes_col)[c][3].alias("b"),
        "kv_l", "kv_t", "kv_r", "kv_b")
