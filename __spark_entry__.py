"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship extract+score job on /root/testdata/sf0.001.
queries()      -> named queries from SURVEY.md §2 (each (spark, sf_dir) -> DataFrame).
oracle_sql()   -> DuckDB-runnable ANSI SQL oracle per query (same tables).

Column names are aliased identically on both sides; float aggregates are
rounded to 6 decimals on both sides so cross-engine summation-order noise
(~1e-13 relative) cannot flip the driver's value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_eval_spark.session import row_stage

SF0001 = "/root/testdata/sf0.001"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synth pages -> boilerplate-strip extraction -> scoring."""
    from docling_eval_spark.plans.pipeline import flagship

    scored = flagship(spark, SF0001, n_partitions=8)
    return scored.select(
        "doc_id", "url", "lang", "byte_identical",
        "n_blocks", "n_content", "n_boiler",
        "bleu", "f1_score", "precision", "recall",
        "edit_distance", "meteor", "char_accuracy",
    )


# ---------------------------------------------------------------------------
# queries — extraction pipeline (closed-form oracles by corpus construction)
# ---------------------------------------------------------------------------

def _q_extract_text_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical gate, per url: md5 of the extracted text must equal
    md5 of the oracle text column (north rule)."""
    from docling_eval_spark.plans.pipeline import flagship

    scored = flagship(spark, sf_dir, n_partitions=16, full_metrics=False)
    return scored.select(
        "doc_id",
        F.md5(F.encode("extracted_text", "utf-8")).alias("text_md5"),
    )


def _q_extract_identity_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_eval_spark.plans.pipeline import flagship

    scored = flagship(spark, sf_dir, n_partitions=16, full_metrics=False)
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("byte_identical").cast("long")).alias("n_identical"),
    )


def _q_pdf_extract_text_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF path (north rule): scrambled positioned-span blobs -> geometric
    reading-order recovery -> byte-identical text (extraction/pdf_spans.py).
    Blob synthesis is fused into the same Arrow stage as parsing so binary
    payloads never cross an exchange."""
    from docling_eval_spark.extraction.pdf_spans import (
        build_pdf_blob,
        parse_pdf_blob,
        spans_to_text,
    )

    def _pdf_roundtrip(doc_id, text):
        yield doc_id, spans_to_text(parse_pdf_blob(build_pdf_blob(doc_id, text)))

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    out = row_stage(docs, _pdf_roundtrip, "doc_id bigint, extracted_text string")
    return out.select(
        "doc_id", F.md5(F.encode("extracted_text", "utf-8")).alias("text_md5"))


def _q_teds_tables_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEDS of extracted table vs regenerated GT on every table page: 1.0
    by construction (table pipeline: SURVEY.md §2.8 F1-F5, §2.4 A7)."""
    from docling_eval_spark.plans.table_eval import teds_scores

    return teds_scores(spark, sf_dir).select(
        "doc_id",
        F.round("teds", 6).alias("teds"),
        F.round("teds_struct", 6).alias("teds_struct"),
    )


def _q_table_delta_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 FULL bounded -10..10 delta-row/col histogram (reference
    table_evaluator.py:51-90) over deterministically shape-perturbed
    predictions (mode = doc_id % 4: identity / +1 row / +1 col / both).
    Shapes are measured by the real HTML->grid parser; the oracle counts
    docs per mode in closed form."""
    from docling_eval_spark.plans.table_eval import delta_histogram, teds_scores

    return delta_histogram(teds_scores(spark, sf_dir, perturb=True))


def _q_ocr_page_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-granular OCR eval over the map<int, array<struct>> segmented-
    page model (reference ocr_evaluator.py:150-162): per-page line-level
    pairing, CER from the real Levenshtein kernel; oracle is the closed
    form 0-or-1/len(page_text) per (doc_id, page_no)."""
    from docling_eval_spark.plans.ocr_eval import page_ocr_scores

    return page_ocr_scores(spark, sf_dir).select(
        "doc_id", "page_no", "mode",
        F.round("cer", 6).alias("cer"),
        F.round("char_accuracy", 6).alias("char_accuracy"),
    ).orderBy("doc_id", "page_no")


def _q_extract_block_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-row accounting: content blocks per doc == paragraph count of the
    oracle text (generator contract); boiler blocks strictly positive."""
    from docling_eval_spark.plans.pipeline import flagship

    scored = flagship(spark, sf_dir, n_partitions=16, full_metrics=False)
    return scored.select("doc_id", "n_content", (F.col("n_boiler") > 0).alias("has_boiler"))


# ---------------------------------------------------------------------------
# queries — layout / reading-order / OCR pipelines (closed-form oracles:
# the synthetic layout corpus is constructed so every metric is exact CASE
# arithmetic over doc_id — see corpus/layout_synth.py)
# ---------------------------------------------------------------------------

def _q_layout_image_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image COCO mAP + mask P/R/F1 + weighted IoU (SURVEY.md §2.4 A6,
    §2.8 F13/F15, §2.3 J5) over perturbation modes 0-2."""
    from docling_eval_spark.plans.layout_eval import per_image_metrics

    m = per_image_metrics(spark, sf_dir, modes=(0, 1, 2))
    return m.select(
        "doc_id",
        F.round("map", 6).alias("map"),
        F.round("map_50", 6).alias("map_50"),
        F.round("map_75", 6).alias("map_75"),
        F.round("mask_precision", 6).alias("mask_precision"),
        F.round("mask_recall", 6).alias("mask_recall"),
        F.round("mask_f1", 6).alias("mask_f1"),
        F.round("avg_iou_50", 6).alias("avg_iou_50"),
    )


def _q_layout_corpus_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level mAP as a distributed partial aggregate + driver final
    over <= C x T x n_bins bins (SURVEY.md §2.4 A5; reference
    layout_evaluator.py:246-266)."""
    from docling_eval_spark.plans.layout_eval import corpus_map

    return corpus_map(spark, sf_dir, modes=(0, 1))


def _q_reading_order_ard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric reading-order prediction + ARD (SURVEY.md §2.5 W1/W2)."""
    from docling_eval_spark.plans.reading_order_eval import reading_order_scores

    s = reading_order_scores(spark, sf_dir)
    return s.select(
        "doc_id",
        F.round("ard_norm", 6).alias("ard_norm"),
        F.round("w_ard_norm", 6).alias("w_ard_norm"),
    )


def _q_bbox_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-IoU box pairing + matched-text scoring (SURVEY.md §2.3 J3;
    reference bbox_text_evaluator.py)."""
    from docling_eval_spark.plans.bbox_text_eval import bbox_text_scores

    s = bbox_text_scores(spark, sf_dir)
    return s.select(
        "doc_id", "n_matched", "n_orphan_gt", "n_orphan_pred",
        F.round("mean_iou", 6).alias("mean_iou"),
        F.round("mean_f1", 6).alias("mean_f1"),
        F.round("mean_edit", 6).alias("mean_edit"),
    )


def _q_markdown_export_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown export (F6): labeled spans of the layout corpus -> md5 of
    the deterministic markdown document; the oracle rebuilds the exact
    string in SQL."""
    from docling_eval_spark.corpus.layout_synth import n_boxes
    from docling_eval_spark.functions.markdown_export import spans_to_markdown
    from docling_eval_spark.plans.bbox_text_eval import box_text

    def _markdown(d):
        yield d, spans_to_markdown([("title" if k == 0 else "text", box_text(d, k))
                                    for k in range(n_boxes(d))])

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    out = row_stage(docs, _markdown, "doc_id bigint, markdown string")
    return out.select(
        "doc_id", F.md5(F.encode("markdown", "utf-8")).alias("md_md5"))


def _q_doctags_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doctags round-trip (F19): serialize the layout corpus to the
    doctags token format, parse it back, emit one row per span; the oracle
    reconstructs every field from the closed-form layout geometry."""
    from docling_eval_spark.corpus.layout_synth import gt_page
    from docling_eval_spark.functions.doctags import (
        DocTagSpan,
        parse_doctags,
        to_doctags,
    )
    from docling_eval_spark.plans.bbox_text_eval import box_text

    def _doctags(d):
        boxes, labels = gt_page(d)
        spans = [
            DocTagSpan(str(labels[k]), int(boxes[k][0]), int(boxes[k][1]),
                       int(boxes[k][2]), int(boxes[k][3]), box_text(d, k))
            for k in range(len(boxes))
        ]
        for idx, sp in enumerate(parse_doctags(to_doctags(spans))):
            yield d, idx, sp.label, sp.l, sp.t, sp.r, sp.b, sp.text

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    return row_stage(
        docs, _doctags, "doc_id bigint, idx int, label string, l int, t int, "
                        "r int, b int, text string"
    ).orderBy("doc_id", "idx")


def _docvqa_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, anno) DocVQA-shaped QA JSON built natively: k=doc_id%3+1
    questions, each with a primary and an alt answer."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 300)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    k = (F.col("doc_id") % 3 + 1).cast("int")
    did = F.col("doc_id").cast("string")

    def qa(i):
        return F.struct(
            F.concat(F.lit("q "), did, F.lit(" "), i.cast("string"),
                     F.lit("?")).alias("question"),
            F.array(
                F.concat(F.lit("ans "), did, F.lit(" "), i.cast("string"),
                         F.lit(" primary")),
                F.concat(F.lit("alt "), did, F.lit(" "), i.cast("string")),
            ).alias("answers"),
        )

    anno = F.to_json(F.struct(
        F.transform(F.sequence(F.lit(0), k - 1), qa).alias("qa")))
    return docs.select("doc_id", anno.alias("anno"))


_OMNIDOC_FIXTURE_CATS = [
    "title", "text_block", "table", "table_caption", "header",
    "figure", "figure_caption", "footer", "equation_isolated",
    "page_number", "text_mask", "weird_cat",
]


def _q_omnidoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OmniDocBench builder (reference omnidocbench_builder.py:178-322):
    real annotation shape — elements under layout_dets, bbox from the
    flat poly list (the fixture's NON-rectangular 3-point polygon makes
    min/max do real work), per-branch label map incl. header/footer/
    page_number, the text-field override (even element indices carry a
    real text, odd ones fall back to the omitted placeholder), and
    unmapped categories dropped with an idx gap."""
    from docling_eval_spark.sources.gt_builder import omnidocbench_spans

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 300)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    k = (F.col("doc_id") % 4 + 2).cast("int")
    cats = F.array(*[F.lit(s) for s in _OMNIDOC_FIXTURE_CATS])

    def elem(j):
        x0 = F.lit(4.0) + j * 5
        y0 = F.lit(6.0) + j * 4
        return F.struct(
            F.element_at(cats, ((F.col("doc_id") + j) % 12 + 1).cast("int"))
            .alias("category_type"),
            F.array(x0 + 3, y0, x0 + 10, y0 + 1, x0, y0 + 7).alias("poly"),
            # null text keys drop out of to_json -> "text" absent, like
            # real annotations without the field
            F.when(j % 2 == 0, F.concat(
                F.lit("body "), F.col("doc_id").cast("string"),
                F.lit(" "), j.cast("string"))).alias("text"),
            F.lit("").alias("html"),
        )

    anno = F.to_json(F.struct(
        F.struct(F.lit(612.0).alias("width"),
                 F.lit(792.0).alias("height")).alias("page_info"),
        F.transform(F.sequence(F.lit(0), k - 1), elem).alias("layout_dets")))
    return omnidocbench_spans(docs.select("doc_id", anno.alias("anno"))) \
        .orderBy("doc_id", "idx")


def _q_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode path (F17): deterministic PNG payloads (synth_png:
    R x-gradient, G/B doc-derived constants, scanline filters cycling
    0..4) synthesized AND decoded inside one Arrow stage with the
    from-scratch zlib+spec codec (functions/png_codec.py). The oracle
    recomputes the closed-form channel means, so a decoder bug in ANY
    filter path flips the hash."""
    from docling_eval_spark.functions.png_codec import decode_png, synth_png

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 500)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )

    def _png_means(d):
        arr = decode_png(synth_png(d, 16 + d % 16, 8 + d % 8))
        means = arr.astype("float64").mean(axis=(0, 1))
        yield (d, arr.shape[1], arr.shape[0],
               *(round(float(m), 6) for m in means[:3]))

    return row_stage(
        docs, _png_means, "doc_id bigint, width int, height int, mean_r double, "
                          "mean_g double, mean_b double").orderBy("doc_id")


def _q_textract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AWS Textract response parser (reference aws_prediction_provider.py
    convert_aws_output_to_docling :190-310 + process_table :113-188),
    round 3. Deterministic Textract-shaped JSON synthesized per doc,
    parsed through the real sources/cloud_ocr.parse_responses Arrow
    stage: PAGE + LAYOUT_TITLE + k LAYOUT_TEXT + 2 WORDs, and on even
    docs a 2x2 TABLE whose CELL children carry WORD text. Binary-
    fraction bboxes keep every scaled coordinate exact; table bboxes
    stay raw-normalized like the reference."""
    import json as _json

    from docling_eval_spark.sources.cloud_ocr import parse_responses

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 400)
        .repartition(16, F.xxhash64("doc_id", F.lit(0xA15)))
    )

    def _textract_response(d):
        k = d % 3 + 1
        blocks = [{"Id": "p", "BlockType": "PAGE", "Page": 1},
                  {"Id": "ti", "BlockType": "LAYOUT_TITLE",
                   "Text": f"Title {d}",
                   "Geometry": {"BoundingBox": {
                       "Left": 0.25, "Top": 0.125,
                       "Width": 0.5, "Height": 0.25}}}]
        for i in range(k):
            blocks.append({"Id": f"tx{i}", "BlockType": "LAYOUT_TEXT",
                           "Text": f"text {d} {i}",
                           "Geometry": {"BoundingBox": {
                               "Left": (1 + i) / 16, "Top": 0.25,
                               "Width": 1 / 16, "Height": 1 / 16}}})
        for j in range(2):
            blocks.append({"Id": f"w{j}", "BlockType": "WORD",
                           "Page": 1, "Text": f"w{j} {d}",
                           "Geometry": {"BoundingBox": {
                               "Left": (8 + j) / 16, "Top": 0.5,
                               "Width": 1 / 16, "Height": 1 / 16}}})
        if d % 2 == 0:
            cell_ids = [f"c{r}{c}" for r in range(2) for c in range(2)]
            blocks.append({"Id": "tb", "BlockType": "TABLE",
                           "Page": 1,
                           "Geometry": {"BoundingBox": {
                               "Left": 0.25, "Top": 0.5,
                               "Width": 0.5, "Height": 0.375}},
                           "Relationships": [
                               {"Type": "CHILD", "Ids": cell_ids}]})
            for r in range(2):
                for c in range(2):
                    blocks.append({
                        "Id": f"c{r}{c}", "BlockType": "CELL",
                        "RowIndex": r + 1, "ColumnIndex": c + 1,
                        "Geometry": {"BoundingBox": {
                            "Left": (c + 1) / 8, "Top": (r + 1) / 8,
                            "Width": 1 / 8, "Height": 1 / 8}},
                        "Relationships": [{"Type": "CHILD",
                                           "Ids": [f"cw{r}{c}"]}]})
            for r in range(2):
                for c in range(2):
                    blocks.append({
                        "Id": f"cw{r}{c}", "BlockType": "WORD",
                        "Page": 1, "Text": f"c {d} {r} {c}",
                        "Geometry": {"BoundingBox": {
                            "Left": (c + 1) / 8, "Top": (r + 1) / 8,
                            "Width": 1 / 8, "Height": 1 / 8}}})
        yield (d, _json.dumps({"Blocks": blocks}),
               float(100 + d % 7), float(200 + d % 5))

    responses = row_stage(docs, _textract_response,
                          "doc_id bigint, response_json string, "
                          "pw double, ph double")
    return _cloud_items_projection(parse_responses(
        responses, provider="textract", page_w_col="pw", page_h_col="ph"))


def _cloud_items_projection(items: DataFrame) -> DataFrame:
    return items.select(
        "doc_id", "item_idx", "kind", "page_no", "label", "text",
        F.round("l", 6).alias("l"), F.round("t", 6).alias("t"),
        F.round("r", 6).alias("r"), F.round("b", 6).alias("b"),
        "row_idx", "col_idx", "column_header", "row_header",
    ).orderBy("doc_id", "item_idx")


def _q_azure_docai_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azure Document Intelligence response parser (reference
    azure_prediction_provider.py:93-313), round 3: pages+words, tables
    with header-less cells, role-labeled paragraphs (role cycling
    through the reference's whole dispatch table), figures. Key style
    alternates snake/camel per doc to pin the dual-spelling tolerance."""
    import json as _json

    from docling_eval_spark.sources.cloud_ocr import parse_responses

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 400)
        .repartition(16, F.xxhash64("doc_id", F.lit(0xA20)))
    )

    roles = [None, "title", "sectionHeading", "pageHeader", "pageFooter",
             "pageNumber"]

    def _azure_response(d):
        camel = d % 2 == 1
        pn = "pageNumber" if camel else "page_number"
        br = "boundingRegions" if camel else "bounding_regions"
        resp = {
            "pages": [{pn: 1, "width": 8.5, "height": 11.0,
                       "words": [
                           {"content": f"w{j} {d}",
                            "polygon": [j + 1, 2, j + 3, 2,
                                        j + 3, 4, j + 1, 4]}
                           for j in range(2)]}],
            "paragraphs": [{
                "content": f"para {d}",
                br: [{pn: 1, "polygon": [0, d % 5, 6, d % 5,
                                         6, d % 5 + 1, 0,
                                         d % 5 + 1]}],
                **({"role": roles[d % 6]} if roles[d % 6] else {}),
            }],
            "figures": [{br: [
                {pn: 1, "polygon": [1, 1, 3, 1, 3, 3, 1, 3]}]}],
        }
        if d % 2 == 0:
            resp["tables"] = [{
                "page_range": {"first_page_number": 1},
                "row_count": 2, "column_count": 2,
                br: [{"polygon": [0, 0, 4, 0, 4, 4, 0, 4]}],
                "cells": [
                    {"row_index": r, "column_index": c,
                     "content": f" c {d} {r} {c} ",
                     br: [{"polygon": [2 * c, 2 * r, 2 * c + 2,
                                       2 * r, 2 * c + 2, 2 * r + 2,
                                       2 * c, 2 * r + 2]}]}
                    for r in range(2) for c in range(2)],
            }]
        yield d, _json.dumps(resp)

    responses = row_stage(docs, _azure_response,
                          "doc_id bigint, response_json string")
    return _cloud_items_projection(
        parse_responses(responses, provider="azure"))


def _q_google_docai_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google Document AI response parser (reference
    google_prediction_provider.py:89-255), round 3: textAnchor segments
    indexing into the document text (string indices, as MessageToDict
    emits), paragraph spans, tables with header rows before body rows
    and max-cells num_cols."""
    import json as _json

    from docling_eval_spark.sources.cloud_ocr import parse_responses

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 400)
        .repartition(16, F.xxhash64("doc_id", F.lit(0xA21)))
    )

    def _google_response(d):
        text = f"head body tail {d}"
        page = {
            "pageNumber": 1,
            "dimension": {"width": float(300 + d % 10),
                          "height": float(400 + d % 10)},
            "paragraphs": [{"layout": {
                "textAnchor": {"textSegments": [
                    {"startIndex": "0",
                     "endIndex": str(len(text))}]},
                "boundingPoly": {"vertices": [
                    {"x": 1, "y": 2}, {"x": 9, "y": 2},
                    {"x": 9, "y": 5}, {"x": 1, "y": 5}]}}}],
        }
        if d % 3 == 0:
            def cell(seg, ri, ci):
                return {"layout": {
                    "textAnchor": {"textSegments": [seg]},
                    "boundingPoly": {"vertices": [
                        {"x": 5 * ci, "y": 10 + 10 * ri},
                        {"x": 5 * ci + 5, "y": 10 + 10 * ri},
                        {"x": 5 * ci + 5, "y": 20 + 10 * ri},
                        {"x": 5 * ci, "y": 20 + 10 * ri}]}}}

            page["tables"] = [{
                "layout": {"boundingPoly": {"vertices": [
                    {"x": 0, "y": 10}, {"x": 20, "y": 10},
                    {"x": 20, "y": 30}, {"x": 0, "y": 30}]}},
                "headerRows": [{"cells": [
                    cell({"startIndex": 0, "endIndex": 4}, 0, 0),
                    cell({"startIndex": 5, "endIndex": 9}, 0, 1)]}],
                "bodyRows": [{"cells": [
                    cell({"startIndex": 10, "endIndex": 14}, 1, 0)]}],
            }]
        yield d, _json.dumps({"text": text, "pages": [page]})

    responses = row_stage(docs, _google_response,
                          "doc_id bigint, response_json string")
    return _cloud_items_projection(
        parse_responses(responses, provider="google"))


def _q_otsl_table_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocLayNet-v2 OTSL token-sequence table parse (reference
    doclaynet_v2_builder.py parse_table_content :234-255 over
    parse_texts :115-232), round 3. Per doc, a span-bearing 3x3 grid
    (colspan / rowspan / 2x2-xcel head by doc_id%3, <ched> header row,
    one <ecel>) is serialized to OTSL, parsed back with the from-scratch
    parser, AND cross-checked cell-for-cell against its HTML twin
    through the existing F2 grid machinery — html_match pins the two
    parsers to the same grid."""
    from docling_eval_spark.functions.otsl import grid_to_otsl, parse_otsl_cells
    from docling_eval_spark.functions.teds import (
        grid_cells_to_html,
        html_table_to_grid_cells,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 400)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x075)))
    )

    def fixture(d: int) -> list[dict]:
        case = d % 3

        def cell(r, c, rs=1, cs=1, text=None):
            return {"row": r, "col": c, "rowspan": rs, "colspan": cs,
                    "text": f"t {d} {r} {c}" if text is None else text}

        if case == 0:
            spans = [cell(0, 0, 1, 2), cell(0, 2)]
            rest = [(1, 0), (1, 1), (1, 2), (2, 0), (2, 1)]
        elif case == 1:
            spans = [cell(0, 0, 2, 1), cell(0, 1), cell(0, 2)]
            rest = [(1, 1), (1, 2), (2, 0), (2, 1)]
        else:
            spans = [cell(0, 0, 2, 2), cell(0, 2)]
            rest = [(1, 2), (2, 0), (2, 1)]
        return (spans + [cell(r, c) for r, c in rest]
                + [cell(2, 2, text="")])

    def _otsl_cells(d):
        grid = fixture(d)
        cells, nr, nc = parse_otsl_cells(grid_to_otsl(grid, header_rows=1))
        match = cells == html_table_to_grid_cells(grid_cells_to_html(grid))
        for c in cells:
            yield (d, c["row"], c["col"], c["rowspan"], c["colspan"],
                   c["text"], match, nr, nc)

    return row_stage(
        docs, _otsl_cells, "doc_id bigint, row int, col int, rowspan int, "
                           "colspan int, text string, html_match boolean, "
                           "n_rows int, n_cols int"
    ).orderBy("doc_id", "row", "col")


def _q_doclaynet_v2_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocLayNet-v2 key-value graph builder (reference
    doclaynet_v2_builder.py create_kv_pairs :421-470 +
    populate_key_value_item :357-417), round 3: native-HOF pair
    resolution, degree-rule labels (F18), enclosing KV bbox. Fixture:
    n = doc_id%4+2 segments, odd segment i links to key i-1, one
    dangling link to a nonexistent id on the last segment when n is
    odd — every derived quantity closed-form."""
    from docling_eval_spark.sources.gt_builder import doclaynet_v2_kv

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 400)
    )
    n = F.col("doc_id") % 4 + 2
    idx = F.sequence(F.lit(0), n - 1)
    fixture = docs.select(
        "doc_id",
        F.transform(idx, lambda i: F.concat(F.lit("a"), i))
        .alias("annotation_ids"),
        F.transform(idx, lambda i: F.array(
            i.cast("double"), (i + 10).cast("double"),
            (i + 5).cast("double"), (i + 20).cast("double"))).alias("boxes"),
        F.transform(idx, lambda i: F.concat_ws(
            " ", F.lit("seg"), F.col("doc_id"), i)).alias("segments"),
        F.transform(idx, lambda i: F.when(
            i % 2 == 1, F.concat(F.lit("a"), i - 1)
        ).when(i == n - 1, F.lit("missing"))).alias("links"),
    )
    return doclaynet_v2_kv(fixture).orderBy("doc_id", "cell_id")


def _q_cvat_document_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CVAT document reconstruction (reference
    cvat_dataset_builder.py create_true_document :864-1270 with
    get_next_provs merges, picture groups, caption/footnote links, list
    groups, heading levels), round 3. Each doc synthesizes an annotation
    XML exercising merge + picture/list groups + to_caption/to_footnote
    + a leveled heading, round-trips it through to_cvat_xml ->
    parse_cvat_document inside the cvat_document_items Arrow stage."""
    from docling_eval_spark.sources.cvat import cvat_document_items, to_cvat_xml

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 400)
        .repartition(16, F.xxhash64("doc_id", F.lit(0xCAC)))
    )

    boxes = [(10, 10, 100, 20), (10, 30, 100, 40), (10, 50, 100, 60),
             (10, 70, 100, 120), (10, 130, 100, 140),
             (10, 150, 100, 160), (10, 170, 100, 180),
             (10, 190, 100, 240), (10, 250, 100, 260),
             (10, 270, 100, 280)]
    labels = ["title", "text", "text", "picture", "caption",
              "list_item", "list_item", "table", "footnote",
              "section_header"]

    def _cvat_fixture(d):
        xml = to_cvat_xml(
            boxes, labels, f"doc_{d}.png",
            reading_order=[0, 1, 3, 5, 7, 9],
            polylines=[("merge", [1, 2]), ("to_caption", [3, 4]),
                       ("group", [5, 6]), ("to_footnote", [7, 8])],
            attributes={9: {"level": str(d % 3 + 1)}})
        yield d, xml, [f"Title {d}", f"Body {d} a", f"Body {d} b", "",
                       f"Cap {d}", f"L {d} 0", f"L {d} 1", f"Tab {d}",
                       f"F {d}", f"H {d}"]

    fixture = row_stage(docs, _cvat_fixture,
                        "doc_id bigint, xml string, texts array<string>")
    items = cvat_document_items(fixture, texts_col="texts")
    return items.select(
        "doc_id", "item_idx", "boxid", "label", "kind", "text",
        "l", "t", "r", "b", "parent_idx", "n_provs", "level",
    ).orderBy("doc_id", "item_idx")


def _q_pixparse_page_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pixparse-style OCR GT builder (reference pixparse_builder.py
    :60-114): zipped text/bbox/score lists per page -> segmented-page
    map, exploded to (doc_id, page_no, cell_id, text, l, t, r, b,
    score) rows. Fixture: k=doc_id%3+1 pages with j+2 cells each, ltwh
    boxes — all closed-form."""
    from docling_eval_spark.sources.gt_builder import pixparse_segmented_pages

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 300)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    k = (F.col("doc_id") % 3 + 1).cast("int")
    did = F.col("doc_id").cast("string")

    def page(p):
        n = p + 2  # cells per page
        idxs = F.sequence(F.lit(0), n - 1)
        return F.struct(
            F.transform(idxs, lambda j: F.concat(
                F.lit("line "), did, F.lit(" "), p.cast("string"),
                F.lit(" "), j.cast("string"))).alias("text"),
            F.transform(idxs, lambda j: F.array(
                F.lit(3.0) + j * 2, F.lit(5.0) + j * 7,
                F.lit(40.0), F.lit(6.0))).alias("bbox"),
            F.transform(idxs, lambda j: F.lit(1.0) - j * 0.01).alias("score"),
        )

    anno = F.to_json(F.struct(
        F.transform(F.sequence(F.lit(0), k - 1), page).alias("pages")))
    seg = pixparse_segmented_pages(docs.select("doc_id", anno.alias("anno")))
    return (
        seg.select("doc_id", F.explode("gt_pages").alias("page_no", "cells"))
        .select("doc_id", "page_no", F.explode("cells").alias("c"))
        .select("doc_id", "page_no",
                F.col("c.cell_id").alias("cell_id"),
                F.col("c.text").alias("text"),
                F.col("c.l").alias("l"), F.col("c.t").alias("t"),
                F.col("c.r").alias("r"), F.col("c.b").alias("b"),
                F.round("c.score", 6).alias("score"))
        .orderBy("doc_id", "page_no", "cell_id")
    )


def _q_docvqa_kv_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocVQA-style QA builder (reference docvqa_builder.py:104-145):
    question KEY cells at running indices, answer VALUE cells following,
    out-degree n_answers/1 from the bidirectional link pairs. With two
    answers per question the running index is closed-form 3i/3i+1/3i+2."""
    from docling_eval_spark.sources.gt_builder import docvqa_kv_cells

    return docvqa_kv_cells(_docvqa_fixture(spark, sf_dir)) \
        .orderBy("doc_id", "cell_id")


def _q_docvqa_anls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANLS scoring (Biten et al. 2019, the DocVQA protocol) over
    deterministic predictions: mode (doc_id+i)%3 = exact primary answer /
    one appended char (similarity 1 - 1/(L+1)) / empty (score 0). The
    real Levenshtein kernel runs in an Arrow batch; the oracle is the
    closed form."""
    from docling_eval_spark.functions.text_metrics import anls
    from docling_eval_spark.sources.gt_builder import docvqa_kv_cells

    cells = docvqa_kv_cells(_docvqa_fixture(spark, sf_dir))
    qa = (
        cells.groupBy("doc_id", "qa_idx")
        .agg(F.sort_array(F.collect_list(
            F.when(F.col("label") == "VALUE", F.col("text")))).alias("answers"))
    )
    preds = qa.select(
        "doc_id", "qa_idx", "answers",
        F.when((F.col("doc_id") + F.col("qa_idx")) % 3 == 0,
               F.concat(F.lit("ans "), F.col("doc_id").cast("string"),
                        F.lit(" "), F.col("qa_idx").cast("string"),
                        F.lit(" primary")))
        .when((F.col("doc_id") + F.col("qa_idx")) % 3 == 1,
              F.concat(F.lit("ans "), F.col("doc_id").cast("string"),
                       F.lit(" "), F.col("qa_idx").cast("string"),
                       F.lit(" primaryX")))
        .otherwise(F.lit("")).alias("pred"),
    )

    def _anls(doc_id, qa_idx, answers, pred):
        yield doc_id, qa_idx, round(anls(pred, [a for a in answers if a is not None]), 6)

    return row_stage(preds, _anls, "doc_id bigint, qa_idx int, anls double") \
        .orderBy("doc_id", "qa_idx")


def _q_doclaynet_layout_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocLayNet/COCO-style layout builder (reference doclaynet_v1_builder
    .py:180-360): string labels through the fixed map (unknown -> text),
    COCO ltwh -> ltrb, charspan (0, len(content)). Fixture JSON is built
    natively; label index 11 is deliberately unknown to exercise the
    default."""
    from docling_eval_spark.sources.gt_builder import (
        DOCLAYNET_LABELS,
        doclaynet_spans,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 300)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    k = (F.col("doc_id") % 4 + 2).cast("int")
    lab_pool = F.array(*([F.lit(s) for s in DOCLAYNET_LABELS]
                         + [F.lit("not_a_label")]))
    seq = F.sequence(F.lit(0), k - 1)
    anno = F.to_json(F.struct(
        F.lit(612.0).alias("page_width"), F.lit(792.0).alias("page_height"),
        F.transform(seq, lambda j: F.element_at(
            lab_pool, ((F.col("doc_id") + j) % 12 + 1).cast("int")))
        .alias("labels"),
        F.transform(seq, lambda j: F.array(
            F.lit(5.0) + j * 2, F.lit(7.0) + j * 3, F.lit(20.0), F.lit(10.0)))
        .alias("bboxes"),
        F.transform(seq, lambda j: F.concat(
            F.lit("seg "), F.col("doc_id").cast("string"), F.lit(" "),
            j.cast("string"))).alias("contents"),
    ))
    fixture = docs.select("doc_id", anno.alias("anno"))
    return doclaynet_spans(fixture).orderBy("doc_id", "idx")


def _q_funsd_kv_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNSD-style form KV builder (reference funsd_builder.py:205-320 +
    utils.py:536-587 classify_cells): chain-linked form items classify to
    KEY/.../VALUE with the degree rules; an unlinked 'other' item is
    omitted like the reference. Fixture JSON built natively."""
    from docling_eval_spark.sources.gt_builder import funsd_kv_cells

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 300)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    k = (F.col("doc_id") % 3 + 3).cast("int")
    word = F.struct(F.lit("w").alias("text"),
                    F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(1.0))
                    .alias("box"))

    def item(j):
        return F.struct(
            j.cast("int").alias("id"),
            F.concat(F.lit("cell "), F.col("doc_id").cast("string"),
                     F.lit(" "), j.cast("string")).alias("text"),
            F.when(j == k - 1, F.lit("answer")).otherwise(F.lit("question"))
            .alias("label"),
            F.array(j * 10.0, F.lit(20.0), j * 10.0 + 8, F.lit(30.0))
            .alias("box"),
            F.when(j < k - 1,
                   F.array(F.array(j.cast("int"), (j + 1).cast("int"))))
            .otherwise(F.array().cast("array<array<int>>")).alias("linking"),
            F.array(word, word).alias("words"),
        )

    skipped = F.struct(
        k.alias("id"), F.lit("skipped").alias("text"),
        F.lit("other").alias("label"),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(1.0)).alias("box"),
        F.array().cast("array<array<int>>").alias("linking"),
        F.array(word).alias("words"),
    )
    anno = F.to_json(F.struct(F.concat(
        F.transform(F.sequence(F.lit(0), k - 1), item),
        F.array(skipped)).alias("form")))
    fixture = docs.select("doc_id", anno.alias("anno"))
    return funsd_kv_cells(fixture).select(
        "doc_id", "cell_id", "text", "l", "t", "r", "b", "n_words", "label"
    ).orderBy("doc_id", "cell_id")


def _q_layout_class_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class corpus AP (consolidator.py:214-217 class_<label>
    columns): title is never perturbed in modes {0,1} (AP 1.0); text
    loses one detection per mode-1 doc, so its AP is the closed-form
    101-point value at recall TP/GT with precision 1."""
    from docling_eval_spark.plans.layout_eval import corpus_class_ap

    return corpus_class_ap(spark, sf_dir).orderBy("label")


def _q_cvat_roundtrip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CVAT annotation round-trip (reference cvat_preannotation_builder.py
    write side + cvat_dataset_builder.py:263-340 read side): the layout
    corpus serializes to CVAT image XML with the boxes deterministically
    SHUFFLED and the reading_order polyline in true order; the reader
    must recover the true order via point-in-box resolution. Oracle =
    the closed-form layout geometry in reading order."""
    import numpy as np

    from docling_eval_spark.corpus.layout_synth import gt_page
    from docling_eval_spark.sources.cvat import cvat_annotation_spans, to_cvat_xml

    def _cvat_xml(d):
        boxes, labels = gt_page(d)
        perm = np.random.RandomState(d).permutation(len(boxes))
        # boxes listed shuffled; polyline visits true order: polyline
        # position j must point at listed index of original box j ->
        # inverse permutation
        inv = np.empty(len(boxes), dtype=np.int64)
        inv[perm] = np.arange(len(boxes))
        yield d, to_cvat_xml(
            boxes[perm], [str(x) for x in np.asarray(labels)[perm]],
            name=f"{d}.png", reading_order=[int(x) for x in inv])

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 100)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    xmls = row_stage(docs, _cvat_xml, "doc_id bigint, xml string")
    # output carries the per-page `image` name (real exports are
    # multi-image); the fixture writes one page per doc, <doc_id>.png
    return cvat_annotation_spans(xmls).orderBy("doc_id", "idx")


def _q_multi_prov_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 multi-provenance guard (reference readingorder_evaluator.py
    :177-184): docs where any item has >1 provenance are skipped whole.
    Fixture: doc_id % 3 + 2 items each with one provenance, except
    doc_id % 9 == 0 docs whose first item gets two — those must drop.
    Pure native filter (forall over the nested array), no explode."""
    from docling_eval_spark.operators.guards import drop_multi_provenance_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    one_prov = F.struct(F.lit(1).alias("page_no"))
    items = F.transform(
        F.sequence(F.lit(0), (F.col("doc_id") % 3 + 1).cast("int")),
        lambda j: F.struct(
            F.when((F.col("doc_id") % 9 == 0) & (j == 0),
                   F.array(one_prov, one_prov))
            .otherwise(F.array(one_prov)).alias("prov")),
    )
    fixture = docs.select("doc_id", items.alias("items"))
    kept = drop_multi_provenance_docs(fixture)
    return kept.select(
        "doc_id", F.size("items").alias("n_items")).orderBy("doc_id")


def _q_gt_builder_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPBench-style GT dataset builder (reference dpbench_builder.py
    :274-361 iterate + :140-276 element handling): annotation JSON ->
    flat span rows via from_json + native explode/bbox/label mapping;
    table shapes from the real HTML grid parser. The fixture JSON is
    built natively from the documents table, so the oracle reproduces
    every field in closed form."""
    from docling_eval_spark.sources.gt_builder import (
        dpbench_spans,
        fixture_annotations,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") < 200)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )
    spans = dpbench_spans(fixture_annotations(docs))
    return spans.orderBy("doc_id", "elem_idx")


def _q_table_builder_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTSL/HTML table dataset builder gate (reference
    otsl_table_dataset_builder.py:157-252): GT table HTML -> span-aware
    grid-cell records. Gates: byte-exact parse round-trip of the
    canonical re-serialization (F3), full grid coverage, and TEDS < 1
    against a shape-perturbed copy."""
    from docling_eval_spark.corpus.html_synth import gt_table_html
    from docling_eval_spark.functions.teds import teds_score
    from docling_eval_spark.plans.table_eval import perturb_table_html
    from docling_eval_spark.sources.gt_builder import table_records

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").where(F.col("doc_id") % 5 == 0)
        .repartition(16, F.xxhash64("doc_id", F.lit(0x5EED)))
    )

    def _gt_table(d):
        yield d, gt_table_html(d)

    def _perturbed_teds(doc_id, roundtrip_exact, grid_full, h):
        yield (doc_id, roundtrip_exact, grid_full,
               teds_score(h, perturb_table_html(h, 1)) < 1.0)

    recs = table_records(row_stage(docs, _gt_table,
                                   "doc_id bigint, table_html string"))
    return row_stage(
        recs.select("doc_id", "roundtrip_exact", "grid_full", "rebuilt_html"),
        _perturbed_teds, "doc_id bigint, roundtrip_exact boolean, "
                         "grid_full boolean, perturbed_teds_lt1 boolean",
    ).orderBy("doc_id")


def _fixture_dir(sf_dir: str, kind: str) -> str:
    """Deterministic per-(sf_dir, kind) fixture directory under the system
    temp root — idempotently rewritten, never leaked per invocation."""
    import hashlib
    import os
    import shutil
    import tempfile

    h = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(),
                     f"docling_eval_spark_fixture_{kind}_{h}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _q_prediction_files_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction-file adapter end-to-end (reference evaluators/adapters.py
    :12-33 TextFilesAdapter + prediction_providers/file_provider.py:107-145):
    a directory of <doc_id>.md files -> distributed binaryFile read -> GT
    pairing by doc_id -> text-metric suite. Fixture: even doc_ids get a
    byte-exact prediction file, odd doc_ids get none (the missing-
    prediction path), so every metric is closed-form."""
    import os

    from docling_eval_spark.sources.prediction_files import score_prediction_files

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").where(F.col("doc_id") < 200)
    )
    tmp = _fixture_dir(sf_dir, "md")
    for r in docs.where(F.col("doc_id") % 2 == 0).collect():
        with open(os.path.join(tmp, f"{r['doc_id']}.md"), "w") as f:
            f.write(r["text"])
    scored = score_prediction_files(spark, docs, tmp, extension="md")
    return scored.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "has_prediction",
        F.round("bleu", 6).alias("bleu"),
        F.round("f1_score", 6).alias("f1_score"),
        F.round("edit_distance", 6).alias("edit_distance"),
    ).orderBy("doc_id")


def _q_doctags_files_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doctags prediction-file adapter (reference evaluators/adapters.py
    :36-66, fixtures shaped like tests/data/doclaynet_v1_doctags_sample/
    *.dt): write <doc_id>.dt fixture files from the closed-form layout
    corpus, read them through the distributed adapter, parse with the F19
    parser into span rows. Fixture ids come FROM the documents table so
    engine output and oracle stay coupled on any corpus."""
    import os

    from docling_eval_spark.corpus.layout_synth import gt_page
    from docling_eval_spark.functions.doctags import DocTagSpan, to_doctags
    from docling_eval_spark.plans.bbox_text_eval import box_text
    from docling_eval_spark.sources.prediction_files import (
        read_doctags_prediction_spans,
    )

    ids = [int(r["doc_id"]) for r in spark.read.parquet(
        f"{sf_dir}/documents.parquet").select("doc_id")
        .where(F.col("doc_id") < 50).collect()]
    tmp = _fixture_dir(sf_dir, "dt")
    for d in ids:
        boxes, labels = gt_page(d)
        spans = [
            DocTagSpan(str(labels[k]), int(boxes[k][0]), int(boxes[k][1]),
                       int(boxes[k][2]), int(boxes[k][3]), box_text(d, k))
            for k in range(len(boxes))
        ]
        with open(os.path.join(tmp, f"{d}.dt"), "w") as f:
            f.write(to_doctags(spans))
    spans_df = read_doctags_prediction_spans(spark, tmp)
    return spans_df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "idx", "label", "l", "t", "r", "b", "text",
    ).orderBy("doc_id", "idx")


def _q_ocr_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CER / char accuracy over deterministic degradations (F12)."""
    from docling_eval_spark.plans.ocr_eval import ocr_scores

    s = ocr_scores(spark, sf_dir)
    return s.select(
        "doc_id", "mode",
        F.round("cer", 6).alias("cer"),
        F.round("char_accuracy", 6).alias("char_accuracy"),
    )


# ---------------------------------------------------------------------------
# queries — stats / text analysis over driver tables (SQL-expressible)
# ---------------------------------------------------------------------------

def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DatasetStatistics moments (SURVEY.md §2.4 A1) over documents.n_chars."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.agg(
        F.count("n_chars").alias("total"),
        F.round(F.avg("n_chars"), 6).alias("mean"),
        F.round(F.median("n_chars").cast("double"), 6).alias("median"),
        F.round(F.stddev_samp("n_chars"), 6).alias("std"),
    )


def _q_doc_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin histogram (A1 hist part) of n_chars over [0, 600]."""
    from docling_eval_spark.operators.stats_rollup import histogram_df

    df = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select((F.col("n_chars") / 600.0).alias("v"))
    return histogram_df(df, "v")


def _q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.groupBy("lang").agg(F.count("*").alias("n")).orderBy("lang")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting via content hash (training-data op)."""
    from docling_eval_spark.operators.dedup import exact_dedup_summary

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup_summary(df, "text")


def _q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH -> exact n-gram-Jaccard verify (training-data
    dedup). Corpus = documents + deterministic near/exact copies; the
    oracle recomputes exact Jaccard over ALL pairs, so the check proves the
    LSH candidate generation misses nothing at threshold 0.8."""
    from docling_eval_spark.operators.dedup import minhash_dedup_pairs, with_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # small parquet = few input splits; spread the CPU-heavy signature and
    # shingle stages across the cluster before any Python runs
    n_parts = spark.sparkContext.defaultParallelism
    corpus = with_near_dups(docs).repartition(
        n_parts, F.xxhash64("doc_id", F.lit(0x5EED)))
    pairs = minhash_dedup_pairs(corpus, threshold=0.8)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard")) \
        .orderBy("a", "b")


def _q_near_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scale-safe dedup pipeline: exact pre-pass (collapses identical
    texts — the degenerate-LSH-bucket families), capped minhash LSH + exact
    verify among representatives, greedy keep-min drop. The oracle
    recomputes the kept set with all-pairs exact Jaccard in SQL, proving
    (a) the exact pre-pass keeps exactly the min-key per text and (b) the
    capped LSH still misses no ≥0.8 pair on this corpus."""
    from docling_eval_spark.operators.dedup import near_dedup, with_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_parts = spark.sparkContext.defaultParallelism
    corpus = with_near_dups(docs).repartition(
        n_parts, F.xxhash64("doc_id", F.lit(0x5EED)))
    kept = near_dedup(corpus, threshold=0.8, max_bucket_size=1000)
    return kept.select("doc_id").orderBy("doc_id")


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane LSH buckets."""
    from docling_eval_spark.operators.similarity import (
        lsh_near_dup_pairs,
        with_scaled_copies,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    corpus = with_scaled_copies(emb)
    # pipeline deployments cap hot buckets explicitly (library default
    # is exhaustive-within-bucket; see lsh_near_dup_pairs docstring)
    return lsh_near_dup_pairs(corpus, threshold=0.9999,
                              max_bucket_size=100_000).orderBy("a", "b")


def _q_lang_id_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch hashed-char-n-gram language classifier over a
    23-language synthetic fixture: each doc gets a deterministic page
    in LANGS[doc_id % 23] (seeded function-word draws, a seed family
    disjoint from training), the classifier predicts, and the oracle
    re-derives the TRUE language from the doc_id construction — the
    gate therefore asserts exact 100% fixture accuracy, not just
    row counts."""
    from pyspark.sql.functions import pandas_udf

    from docling_eval_spark.functions.langid import LANGS, synth_page
    from docling_eval_spark.operators.text_analysis import (
        with_lang_id_classifier)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")

    @pandas_udf("string")
    def _page(s: pd.Series) -> pd.Series:
        return pd.Series([
            synth_page(LANGS[int(i) % len(LANGS)],
                       int(i) + 31_337, 56) for i in s])

    pages = docs.withColumn("text", _page(F.col("doc_id")))
    return (with_lang_id_classifier(pages)
            .select("doc_id", F.col("langid_lang").alias("lang_pred"))
            .orderBy("doc_id"))


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake binary payloads (PNG magic + utf-8 text bytes) —
    the multimodal column contract with no codec libs in the loop."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text")
    return docs.withColumn(
        "payload",
        F.concat(F.unhex(F.lit("89504E47")), F.encode("text", "utf-8")),
    ).drop("text")


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads — native expressions only
    (mime sniff, byte length, content hash), rolled up per lang."""
    from docling_eval_spark.operators.multimodal import with_payload_metadata

    meta = with_payload_metadata(_payloads(spark, sf_dir))
    return (
        meta.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("payload_meta.n_bytes").alias("total_bytes"),
            F.countDistinct("payload_meta.sha256").alias("n_unique"),
            F.max("payload_meta.mime").alias("mime"),
        )
        .orderBy("lang")
    )


_ROBOTS_TXT_STAR = (
    "# synthetic fixture\n"
    "User-agent: *\n"
    "Disallow: /private\n"
    "Allow: /private/ok\n"
    "Disallow: /p*.html$\n"
    "\n"
    "User-agent: otherbot\n"
    "Disallow: /\n")
_ROBOTS_TXT_EXACT = (
    "User-agent: ccbot\n"
    "User-agent: otherbot\n"
    "Disallow: /\n"
    "User-agent: *\n"
    "Allow: /\n")


def _q_robots_txt_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt verdicts (operators/robots.py) over a
    closed-form fixture: domain groups of 5 docs, k=(g%3) picks the
    robots.txt shape (0: none -> all allowed; 1: '*' group with
    prefix/override/wildcard-anchor rules, plus an otherbot group that
    must be IGNORED for agent ccbot; 2: an exact multi-agent ccbot
    group Disallow:/ that must beat the '*' Allow:/ -> all
    disallowed), m=(doc_id%5) picks the path. The oracle re-derives
    every verdict from (k, m) arithmetic — group selection,
    longest-match, allow-tie and wildcard/$ semantics all flip the
    hash if wrong."""
    from docling_eval_spark.operators.robots import (
        compile_robots, with_robots_verdict)

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").where(F.col("doc_id") < 500))
    g = (F.col("doc_id") / 5).cast("long")
    m = F.col("doc_id") % 5
    path = (F.when(m == 0, F.lit("/"))
            .when(m == 1, F.lit("/private/x"))
            .when(m == 2, F.lit("/private/ok/y"))
            .when(m == 3, F.lit("/pabc.html"))
            .otherwise(F.lit("/q?z=1")))
    pages = docs.withColumn("url", F.concat(
        F.lit("https://h"), g.cast("string"), F.lit(".example"), path))
    doms = (docs.select(g.alias("_g")).distinct()
            .where(F.col("_g") % 3 != 0))
    robots = doms.select(
        F.concat(F.lit("h"), F.col("_g").cast("string"),
                 F.lit(".example")).alias("domain"),
        F.when(F.col("_g") % 3 == 1, F.lit(_ROBOTS_TXT_STAR))
        .otherwise(F.lit(_ROBOTS_TXT_EXACT)).alias("robots_txt"))
    rules = compile_robots(robots, agent="ccbot")
    return (with_robots_verdict(pages, rules)
            .select("doc_id", "domain", "robots_txt_allowed")
            .orderBy("doc_id"))


def _q_cdx_fetch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ index-first ingestion (sources/cdx.py): two captures per
    url (g = doc_id//2), native-built CDXJ lines parse back through
    the native parser, then the manifest pipeline — status-200 +
    text/html selection, latest-capture-per-url collapse (max_by),
    payload-digest dedup (digest groups of 3 urls, min-(ts,url)
    winner), byte-range manifest out. Torn lines (c=0 captures of
    g%11==3) must null-parse and drop without shifting any winner.
    The oracle re-derives every surviving row from the doc_id
    arithmetic — selection, collapse, dedup tie-break and the typed
    offset/length all flip the hash."""
    from docling_eval_spark.sources.cdx import (
        cdx_fetch_manifest, parse_cdxj)

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").where(F.col("doc_id") < 500))
    g = (F.col("doc_id") / 2).cast("long")
    c = F.col("doc_id") % 2
    gs = g.cast("string")
    url = F.concat(F.lit("https://h"), gs, F.lit(".example/p"), gs)
    block = F.to_json(F.struct(
        url.alias("url"),
        F.when(g % 5 == 0, F.lit("application/pdf"))
        .otherwise(F.lit("text/html")).alias("mime"),
        F.when(g % 7 == 0, F.lit("404")).otherwise(F.lit("200"))
        .alias("status"),
        F.concat(F.lit("sha1:"), (g / 3).cast("long").cast("string"))
        .alias("digest"),
        (F.lit(50) + F.col("doc_id") % 10).cast("string").alias("length"),
        (F.col("doc_id") * 100).cast("string").alias("offset"),
        F.concat(F.lit("w"), (g % 4).cast("string"),
                 F.lit(".warc.gz")).alias("filename")))
    ts = F.when(c == 0, F.lit("20240101000000")) \
        .otherwise(F.lit("20240201000000"))
    line = F.concat(F.lit("example,h"), gs, F.lit(")/p"), gs,
                    F.lit(" "), ts, F.lit(" "), block)
    line = F.when((c == 0) & (g % 11 == 3),
                  F.lit("torn line no json")).otherwise(line)
    caps = parse_cdxj(docs.select(line.alias("line")))
    return cdx_fetch_manifest(caps).orderBy("url")


def _q_cdx_ranged_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-first ingestion END-TO-END (sources/cdx.py +
    sources/warc.py): documents shard into 10-record .warc.gz archives
    (one gzip member per record), index_warc_members recovers REAL
    byte ranges by walking member boundaries, cdx_fetch_manifest
    selects, and fetch_manifest_records decodes ONLY the selected
    ranges — the fetched html must be byte-identical to the source
    text (md5-compared; bodies are doc_id-prefixed so payload digests
    are unique and the digest-dedup stage is provably a no-op here)."""
    from datetime import datetime, timezone

    from docling_eval_spark.sources.cdx import (
        cdx_fetch_manifest, fetch_manifest_records, index_warc_members)
    from docling_eval_spark.sources.warc import build_warc

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").where(F.col("doc_id") < 300)
            .withColumn("_a", (F.col("doc_id") / 10).cast("long")))
    grouped = docs.groupBy("_a").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "text")))
        .alias("_recs"))

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def _archive(a, recs):
        yield f"w{a}.warc.gz", bytearray(build_warc([
            (f"https://h{r['doc_id']}.example/p{r['doc_id']}", ts,
             f"<d{r['doc_id']}>{r['text']}".encode("utf-8"))
            for r in recs]))

    archives = row_stage(grouped, _archive, "path string, content binary")
    idx = index_warc_members(archives)
    fetched = fetch_manifest_records(cdx_fetch_manifest(idx), archives)
    return (fetched.select(
        "url", "http_status", "mime",
        F.md5("html").alias("html_md5"))
        .orderBy("url"))


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5 temperature mixing at alpha=0.5 over the documents langs
    (en is ~3x any other stratum: it must subsample hardest while the
    rarest lang is kept whole). alpha=0.5 keeps the whole rate
    derivation inside IEEE correctly-rounded ops (one division + sqrt
    + one multiply), so the md5-threshold keep decision is
    bit-reproducible in the DuckDB oracle — rate math, normalization
    and the sampler predicate all flip the hash if wrong."""
    from docling_eval_spark.operators.webtext import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang")
    return (temperature_mix(docs, alpha=0.5, strata_col="lang",
                            key="doc_id", salt="mix")
            .orderBy("doc_id"))


def _q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export round-trip (sources/warc.py build_wet/wet_export):
    curated rows shard into .wet.gz conversion-record archives
    (deterministic xxhash64 sharding, key-sorted inside each shard)
    and parse back byte-identically — url, text/plain mime, and the
    md5 of the extracted-text block must all survive; the oracle
    re-derives every row from the construction."""
    from docling_eval_spark.sources.warc import warc_records, wet_export

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").where(F.col("doc_id") < 400))
    rows = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), F.col("doc_id").cast("string"),
                 F.lit(".example/p")).alias("url"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "text")
    shards = wet_export(rows, docs_per_shard=50)
    back = warc_records(shards, responses_only=False)
    return (back.select(
        "url", "rec_type", "mime",
        F.md5("html").alias("text_md5"))
        .orderBy("url"))


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop flags over embeddings + exact-duplicate
    directions (x2.0-scaled copies at vec_id + 10^9 share their
    original's direction, cosine exactly 1, and land in the SAME
    precomputed cluster since 10^9 % 5 == 0): every copy must drop
    (keep-min), originals keep unless a smaller-id same-cluster
    neighbor sits above the 0.95 threshold. The oracle recomputes the
    full within-cluster pair set with the repo's shared 4-decimal
    cosine convention."""
    from docling_eval_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    doubled = emb.select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"))
    corpus = emb.unionByName(doubled) \
        .withColumn("cl", F.pmod("vec_id", F.lit(5)))
    return (semantic_dedup(corpus, threshold=0.95, bucket_col="cl")
            .orderBy("vec_id"))


def _q_payload_mime_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native mime sniff over a MIXED payload corpus (doc_id%7==0 gets
    JPEG magic, %7==1 P6, the rest PNG): PNG and JPEG magic name their
    mime, and the P6 class lands in the application/octet-stream
    fallback."""
    from docling_eval_spark.operators.multimodal import with_payload_metadata

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    prefix = (
        F.when(F.col("doc_id") % 7 == 0, F.unhex(F.lit("FFD8FF")))
        .when(F.col("doc_id") % 7 == 1, F.unhex(F.lit("5036")))
        .otherwise(F.unhex(F.lit("89504E47"))))
    payloads = docs.select(
        "doc_id", F.concat(prefix, F.encode("text", "utf-8")).alias("payload"))
    return (
        with_payload_metadata(payloads)
        .groupBy(F.col("payload_meta.mime").alias("mime"))
        .agg(F.count("*").alias("n_payloads"))
        .orderBy("mime")
    )


_REP_COLS = [
    "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
    "dup_para_char_frac", "top2gram_char_frac", "top3gram_char_frac",
    "top4gram_char_frac", "dup5gram_char_frac", "dup6gram_char_frac",
    "dup7gram_char_frac", "dup8gram_char_frac", "dup9gram_char_frac",
    "dup10gram_char_frac",
]


def _q_gopher_repetition_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete 13-threshold Gopher repetition rule set over a
    deterministic line/paragraph fixture (2-word lines, 2-line
    paragraphs rebuilt from the word stream); the oracle re-derives
    every fraction — including the overlap-aware duplicate-n-gram
    character coverage for n=5..10 — from the same construction."""
    from docling_eval_spark.operators.webtext import full_repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    ws = F.split(F.trim("text"), r"\s+")
    docs = docs.withColumn("_w", ws)
    w = F.col("_w")
    nl = F.ceil(F.size(w) / 2.0).cast("int")
    lines = F.transform(F.sequence(F.lit(0), nl - 1),
                        lambda j: F.concat_ws(" ", F.slice(w, j * 2 + 1, 2)))
    docs = docs.withColumn("_l", lines)
    ll = F.col("_l")
    np_ = F.ceil(F.size(ll) / 2.0).cast("int")
    paras = F.transform(F.sequence(F.lit(0), np_ - 1),
                        lambda p: F.concat_ws("\n", F.slice(ll, p * 2 + 1, 2)))
    fixture = docs.select(
        "doc_id", F.concat_ws("\n\n", paras).alias("text"))
    out = full_repetition_stats(fixture)
    return out.select("doc_id", *_REP_COLS,
                      "gopher_repetition_pass").orderBy("doc_id")


def _gopher_repetition_oracle() -> str:
    """DuckDB twin of _q_gopher_repetition_full, generated rule by rule."""
    from docling_eval_spark.operators.webtext import (
        GOPHER_REPETITION_THRESHOLDS)

    ctes = [
        ("w", "SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws "
              "FROM documents"),
        ("wc", "SELECT doc_id, cast(list_sum(list_transform(ws, "
               "x -> strlen(x))) AS double) AS word_chars FROM w"),
        ("b", "SELECT doc_id, ws, list_transform("
              "range(0, cast(ceil(len(ws) / 2.0) AS bigint)), "
              "j -> array_to_string(ws[cast(j*2+1 AS int):"
              "cast(j*2+2 AS int)], ' ')) AS lines FROM w"),
        ("b2", "SELECT doc_id, lines, list_transform("
               "range(0, cast(ceil(len(lines) / 2.0) AS bigint)), "
               "p -> array_to_string(lines[cast(p*2+1 AS int):"
               "cast(p*2+2 AS int)], chr(10))) AS paras FROM b"),
    ]
    for unit, src in (("line", "lines"), ("para", "paras")):
        ctes.append((f"{unit}c",
                     f"SELECT doc_id, u, count(*) AS cnt FROM "
                     f"(SELECT doc_id, unnest({src}) AS u FROM b2) "
                     f"WHERE strlen(u) > 0 GROUP BY doc_id, u"))
        ctes.append((f"{unit}s",
                     f"SELECT doc_id, "
                     f"round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) "
                     f"/ cast(sum(cnt) AS double), 6) AS dup_{unit}_frac, "
                     f"round(sum(CASE WHEN cnt > 1 THEN cnt * strlen(u) "
                     f"ELSE 0 END) / cast(sum(cnt * strlen(u)) AS double), "
                     f"6) AS dup_{unit}_char_frac FROM {unit}c "
                     f"GROUP BY doc_id"))
    for n in (2, 3, 4):
        ctes.append((f"g{n}",
                     f"SELECT doc_id, i, array_to_string(ws[cast(i+1 AS "
                     f"int):cast(i+{n} AS int)], ' ') AS gram FROM "
                     f"(SELECT doc_id, ws, unnest(range(0, "
                     f"len(ws) - {n} + 1)) AS i FROM w)"))
        ctes.append((f"t{n}",
                     f"SELECT doc_id, gram, cnt FROM (SELECT doc_id, gram, "
                     f"count(*) AS cnt, row_number() OVER (PARTITION BY "
                     f"doc_id ORDER BY count(*) DESC, min(i) ASC) AS rn "
                     f"FROM g{n} GROUP BY doc_id, gram) WHERE rn = 1"))
        ctes.append((f"tf{n}",
                     f"SELECT t{n}.doc_id, round(cnt * strlen(replace("
                     f"gram, ' ', '')) / word_chars, 6) "
                     f"AS top{n}gram_char_frac FROM t{n} "
                     f"JOIN wc ON wc.doc_id = t{n}.doc_id"))
    for n in (5, 6, 7, 8, 9, 10):
        ctes.append((f"gp{n}",
                     f"SELECT doc_id, i, array_to_string(ws[cast(i+1 AS "
                     f"int):cast(i+{n} AS int)], ' ') AS gram FROM "
                     f"(SELECT doc_id, ws, unnest(range(0, "
                     f"len(ws) - {n} + 1)) AS i FROM w)"))
        ctes.append((f"d{n}",
                     f"SELECT doc_id, gram FROM gp{n} "
                     f"GROUP BY doc_id, gram HAVING count(*) > 1"))
        ctes.append((f"cv{n}",
                     f"SELECT DISTINCT doc_id, idx FROM (SELECT g.doc_id, "
                     f"unnest(range(g.i, g.i + {n})) AS idx FROM gp{n} g "
                     f"JOIN d{n} d ON d.doc_id = g.doc_id "
                     f"AND d.gram = g.gram)"))
        ctes.append((f"cf{n}",
                     f"SELECT c.doc_id, sum(strlen(ws[cast(c.idx + 1 AS "
                     f"int)])) AS cov FROM cv{n} c JOIN w "
                     f"ON w.doc_id = c.doc_id GROUP BY c.doc_id"))
    sel = ["w.doc_id", "lines.dup_line_frac", "lines.dup_line_char_frac",
           "paras.dup_para_frac", "paras.dup_para_char_frac"]
    joins = ["w", "LEFT JOIN wc ON wc.doc_id = w.doc_id",
             "LEFT JOIN lines ON lines.doc_id = w.doc_id",
             "LEFT JOIN paras ON paras.doc_id = w.doc_id"]
    for n in (2, 3, 4):
        joins.append(f"LEFT JOIN tf{n} ON tf{n}.doc_id = w.doc_id")
        sel.append(f"tf{n}.top{n}gram_char_frac")
    for n in (5, 6, 7, 8, 9, 10):
        joins.append(f"LEFT JOIN cf{n} ON cf{n}.doc_id = w.doc_id")
        sel.append(f"{_rep_sql_ref(f'dup{n}gram_char_frac')} "
                   f"AS dup{n}gram_char_frac")
    fails = " OR ".join(
        f"coalesce({_rep_sql_ref(col)}, 0) > {thr}"
        for col, thr in GOPHER_REPETITION_THRESHOLDS.items())
    sel.append(f"NOT ({fails}) AS gopher_repetition_pass")
    body = ", ".join(f"{name} AS ({sql})" for name, sql in ctes)
    return (f"WITH {body} SELECT {', '.join(sel)} FROM "
            f"{' '.join(joins)} ORDER BY w.doc_id")


def _rep_sql_ref(col: str) -> str:
    """SQL expression for a repetition fraction inside the pass flag."""
    if col.startswith("dup_line"):
        return f"lines.{col}"
    if col.startswith("dup_para"):
        return f"paras.{col}"
    if col.startswith("top"):
        n = col[3]
        return f"tf{n}.{col}"
    n = col[3:col.index("gram")]
    return f"round(coalesce(cf{n}.cov, 0) / nullif(wc.word_chars, 0), 6)"


def _q_robots_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots meta opt-out detection over synthetic page html covering
    all tag shapes (quoted/unquoted/uppercase/none/absent); the oracle
    re-derives the flags from the doc_id-driven construction."""
    from docling_eval_spark.operators.webtext import with_robots_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    m = F.col("doc_id") % 6
    meta = (
        F.when(m == 0, F.lit("<meta name='robots' "
                             "content='noindex, nofollow'>"))
        .when(m == 1, F.lit('<META NAME="ROBOTS" CONTENT="NONE">'))
        .when(m == 2, F.lit("<meta name='robots' content='index,follow'>"))
        .when(m == 3, F.lit(""))
        .when(m == 4, F.lit("<meta name=robots content=nofollow>"))
        # content attribute BEFORE name — legal HTML that a single
        # name-then-content regex silently misses
        .otherwise(F.lit('<meta content="noindex" name="robots">')))
    pages = docs.withColumn(
        "html", F.encode(F.concat(
            F.lit("<html><head>"), meta,
            F.lit("</head><body>page "),
            F.col("doc_id").cast("string"),
            F.lit("</body></html>")), "utf-8"))
    return (with_robots_flags(pages)
            .select("doc_id", "robots_noindex", "robots_nofollow",
                    "robots_keep")
            .orderBy("doc_id"))


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §4.4 head/middle/tail perplexity bucketing over the
    unigram-LM scores: the de-skewed distributed rank must reproduce
    the oracle's single global row_number window byte-for-byte."""
    from docling_eval_spark.operators.webtext import (
        perplexity_buckets, unigram_logprob)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    scored = unigram_logprob(docs).select("doc_id", "unigram_nll")
    return (perplexity_buckets(scored)
            .select("doc_id", "unigram_nll", "ppl_rank", "ppl_bucket")
            .orderBy("doc_id"))


def _q_perplexity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's full composition (§4.3 then §4.4): ONE unigram LM per
    language (token probabilities from the token's own language
    distribution) and head/middle/tail thirds ranked WITHIN each
    language; the oracle is the per-language freq join plus a
    lang-partitioned window."""
    from docling_eval_spark.operators.webtext import (
        perplexity_buckets_by_lang, unigram_logprob)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text")
    scored = unigram_logprob(docs, by="lang").select(
        "doc_id", "lang", "unigram_nll")
    return (perplexity_buckets_by_lang(scored)
            .select("doc_id", "lang", "unigram_nll", "ppl_rank",
                    "ppl_bucket")
            .orderBy("doc_id"))


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-URL dedup on the canonical key over synthetic raw URLs
    with every normalization hazard baked in (case, www, default
    ports, tracking params, param order, trailing slash): doc_id%4
    in {0,1} collapse to one canonical url per group-of-4, %4==3 is
    its own key, %4==2 a distinct path. The oracle builds the
    CANONICAL form closed-form from doc_id arithmetic."""
    from docling_eval_spark.operators.webtext import url_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    g = (F.col("doc_id") / 4).cast("long").cast("string")
    m = F.col("doc_id") % 4
    raw = (
        F.when(m == 0, F.concat(
            F.lit("https://WWW.H"), g, F.lit(".example:443/p"), g,
            F.lit("/?utm_source=a&x=1&b=2")))
        .when(m == 1, F.concat(
            F.lit("https://h"), g, F.lit(".example/p"), g,
            F.lit("?b=2&x=1")))
        .when(m == 2, F.concat(
            F.lit("http://h"), g, F.lit(".example:80/p"), g,
            F.lit("/other")))
        .otherwise(F.concat(
            F.lit("https://h"), g, F.lit(".example/p"), g, F.lit("/"))))
    pages = docs.withColumn("url", raw)
    return (url_dedup(pages)
            .select("doc_id", "url_norm", "n_same_url", "url_keep_first")
            .orderBy("doc_id"))


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-edge round-trip through REAL WARC framing: each Arrow
    batch of documents becomes one .warc.gz archive (response records,
    one gzip member each, HTTP/1.1 payloads), warc_records parses the
    archives back, and every record must surface the exact url,
    timestamp, and byte-identical body the builder wrote."""
    from datetime import datetime, timezone

    import pandas as pd

    from docling_eval_spark.sources.warc import build_warc, warc_records

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")

    def gen(it):
        for pdf in it:
            recs = [
                (f"https://w.example/{d}",
                 datetime.fromtimestamp(int(d) * 60, tz=timezone.utc),
                 t.encode("utf-8"))
                for d, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame({"path": ["batch.warc.gz"],
                                "content": [build_warc(recs)]})

    archives = docs.mapInPandas(gen, "path string, content binary")
    return (
        warc_records(archives)
        .select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("bigint")
            .alias("doc_id"),
            F.col("warc_ts").cast("long").alias("ts_epoch"),
            F.md5("html").alias("body_md5"),
            F.length("html").cast("bigint").alias("n_bytes"))
        .orderBy("doc_id")
    )


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style keep/drop filter over quality features
    (training-data curation): per-lang kept/dropped accounting."""
    from docling_eval_spark.operators.text_analysis import with_quality_features

    df = with_quality_features(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "text")
    keep = (
        (F.col("n_words") >= 10)
        & (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 12.0)
        & (F.col("stopword_ratio") >= 0.01)
    )
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.round(F.avg(keep.cast("double")), 6).alias("keep_rate"),
        )
        .orderBy("lang")
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting per lang (text-analysis op)."""
    from docling_eval_spark.operators.text_analysis import with_token_count

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        with_token_count(df, "text")
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + mean word length per source."""
    from docling_eval_spark.operators.text_analysis import with_quality_features

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        with_quality_features(df, "text")
        .groupBy("source")
        .agg(
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
            F.round(F.avg("mean_word_len"), 6).alias("avg_word_len"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# queries — rejection/timings/consolidation/kv-graph/slice (SURVEY.md §2.4
# A3/A9/A11, §2.8 F18, §2.2 P1/P2/P3)
# ---------------------------------------------------------------------------

def _q_rejection_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_eval_spark.plans.report import (
        docs_table,
        rejection_summary,
        with_synthetic_status,
    )

    return rejection_summary(with_synthetic_status(docs_table(spark, sf_dir)))


def _q_timings_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_eval_spark.plans.report import (
        docs_table,
        timings_rollup,
        with_synthetic_timings,
    )

    return timings_rollup(with_synthetic_timings(docs_table(spark, sf_dir)))


def _q_timings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 full DatasetStatistics parity (stats.py:77-97): per-stage
    total/mean/median/std over the synthetic timing map."""
    from docling_eval_spark.plans.report import (
        docs_table,
        timings_stats,
        with_synthetic_timings,
    )

    return timings_stats(with_synthetic_timings(docs_table(spark, sf_dir)))


def _q_timings_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The np.histogram half of compute_stats: 20 bins over (0, max) per
    stage, right edge folded into the last bin, zero bins present."""
    from docling_eval_spark.plans.report import (
        docs_table,
        timings_histogram,
        with_synthetic_timings,
    )

    return timings_histogram(with_synthetic_timings(docs_table(spark, sf_dir)))


def _q_consolidation_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_eval_spark.plans.report import consolidation_pivot, docs_table

    return consolidation_pivot(docs_table(spark, sf_dir))


def _q_kv_graph_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-graph cell classification over deterministic chain graphs —
    higher-order array expressions only, no Python (F18)."""
    from docling_eval_spark.functions.kv_graph import chain_graph, classify_kv_cells

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = (F.col("doc_id") % 3 + 3).cast("int")
    cells, links = chain_graph(n)
    labeled = docs.select(
        "doc_id", F.explode(classify_kv_cells(cells, links)).alias("c")
    )
    return labeled.select(
        "doc_id", F.col("c.cell_id").alias("cell_id"),
        F.col("c.label").alias("label")
    ).orderBy("doc_id", "cell_id")


def _q_range_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 range slice: deterministic order, sliced by the distributed
    prefix-sum rank (operators/slicing.py) — byte-identical to the
    oracle's global row_number window with no single-partition
    exchange in the plan."""
    from docling_eval_spark.operators.slicing import range_slice

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang")
    return (range_slice(docs, 100, 120, key="doc_id")
            .select("doc_id", "lang")
            .orderBy("doc_id"))


def _q_cumulative_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 cumulative histogram: running cumsum of bin counts."""
    from pyspark.sql import Window

    from docling_eval_spark.operators.stats_rollup import histogram_df

    df = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select((F.col("n_chars") / 600.0).alias("v"))
    hist = histogram_df(df, "v")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return hist.withColumn("cum_n", F.sum("n").over(w)).orderBy("bucket")


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (similarity-search baseline)."""
    from docling_eval_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3)
    return brute_force_topk(queries, emb, k=3)


def _q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe == n_clusters: exact by construction, so the
    brute-force SQL oracle gates the whole train/assign/probe machinery."""
    from docling_eval_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    queries_df = emb.where(F.col("vec_id") < 3)
    return ivf_topk(queries_df, emb, k=3, n_clusters=8, nprobe=8)


# ---------------------------------------------------------------------------
# queries — web-corpus curation tier (CCNet / Gopher / C4 / RefinedWeb passes
# over the extraction output; operators/webtext.py)
# ---------------------------------------------------------------------------

def _q_webtext_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §3.1 corpus-level duplicate-line removal over pseudo-lines
    (3-word chunks — the 31-word synthetic vocab makes cross-document
    line collisions common, so the pass removes real content here)."""
    from docling_eval_spark.operators.webtext import (
        corpus_line_dedup, with_word_lines)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    lined = with_word_lines(docs, words_per_line=3)
    out = corpus_line_dedup(lined, key="doc_id", text_col="text_lines")
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("text").alias("kept_md5")
    ).orderBy("doc_id")


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher (Rae et al. 2021, A1.1) quality rules as native columns;
    min_words lowered to 20 so the corpus has both passing and failing
    documents."""
    from docling_eval_spark.operators.webtext import with_gopher_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    out = with_gopher_quality(docs, min_words=20)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_frac", "n_stop",
        "symbol_ratio", "flag_word_count", "flag_word_len", "flag_symbol",
        "flag_alpha", "flag_stop", "gopher_pass",
    ).orderBy("doc_id")


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style regex PII pass over text with deterministic
    synthetic PII spans appended (one email, one IPv4, one phone each)."""
    from docling_eval_spark.operators.webtext import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".25 tel +14155550"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
        ))
    out = redact_pii(aug)
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("text_redacted").alias("red_md5"),
    ).orderBy("doc_id")


def _q_webtext_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain rollup with salted two-stage aggregation (8 buckets) on
    a skewed synthetic host map (2/3 of pages on one hot domain — the
    canonical web-corpus skew). The oracle is the UNsalted SQL: the salt
    must be bit-invisible in the result."""
    from docling_eval_spark.operators.webtext import (
        domain_rollup, with_domain)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars")
    host = F.when(F.col("doc_id") % 3 != 0, F.lit(0)) \
        .otherwise(F.col("doc_id") % 131)
    pages = docs.withColumn(
        "url",
        F.concat(F.lit("https://host"), F.lpad(host.cast("string"), 4, "0"),
                 F.lit(".example/p/"), F.col("doc_id").cast("string")))
    dom = with_domain(pages)
    return domain_rollup(
        dom, key="doc_id", chars_col="n_chars", salt_buckets=8
    ).orderBy("domain")


def _q_webtext_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM scoring: corpus unigram table (one groupBy with
    map-side combine), broadcast back, per-document mean -ln p(token)."""
    from docling_eval_spark.operators.webtext import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    return unigram_logprob(docs, key="doc_id").orderBy("doc_id")


def _q_hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold subsampling at three nested rates;
    per-rate counts + id checksum gate both membership and nesting."""
    from docling_eval_spark.operators.webtext import hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    parts = []
    for rate in (0.1, 0.25, 0.5):
        s = hash_sample(docs, rate=rate, salt="r3")
        parts.append(s.agg(
            F.lit(rate).alias("rate"),
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("id_sum")))
    out = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return out.orderBy("rate")


def _q_stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing application step: per-language keep rates (en kept
    whole via the rate-1.0 clamp, de/zh thinned, es/fr dropped as
    absent from the map); gated on per-stratum counts + id checksum."""
    from docling_eval_spark.operators.webtext import stratified_hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang")
    kept = stratified_hash_sample(
        docs, {"en": 1.0, "de": 0.25, "zh": 0.1}, strata_col="lang",
        salt="mix")
    return (
        kept.groupBy("lang")
        .agg(F.count_if(F.lit(True)).alias("n"),
             F.sum("doc_id").alias("id_sum"))
        .orderBy("lang"))


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster connected components over a deterministic edge
    set: star edges from exact-text families plus length-6 id chains
    (doc_id%50 in 1..5), so multi-hop label propagation is exercised;
    oracle = DuckDB recursive-CTE transitive closure."""
    from docling_eval_spark.operators.dedup import dup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    fam = hashed.groupBy("h").agg(F.min("doc_id").alias("mn"))
    star = (
        hashed.join(fam, "h")
        .where(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("a"), F.col("mn").alias("b")))
    chains = (
        docs.where((F.col("doc_id") % 50).between(1, 5))
        .select((F.col("doc_id") - 1).alias("a"),
                F.col("doc_id").alias("b")))
    comps = dup_components(star.unionByName(chains))
    return (
        docs.join(comps, docs["doc_id"] == comps["node"], "left")
        .select("doc_id",
                F.coalesce("component", "doc_id").alias("component"))
        .orderBy("doc_id"))


def _q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3 appendix-C decontamination: every doc_id%41==0 document
    plays the held-out benchmark; corpus docs sharing any 6-gram with
    that set are flagged. The 31-word synthetic vocabulary makes
    collisions frequent enough to exercise both branches."""
    from docling_eval_spark.operators.webtext import ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    bench = docs.where(F.col("doc_id") % 41 == 0)
    out = ngram_contamination(docs, bench, n=6)
    return out.orderBy("doc_id")


def _q_near_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: even doc_ids play history; the batch is
    the odd docs plus derived recrawls of history docs — ' xdup' near
    copies (doc_id%10==0, +3e9) and exact copies (doc_id%14==0, +4e9).
    Exact stage must drop the exact recrawls, the LSH-vs-history stage
    the near ones; oracle is the full exact-Jaccard closure."""
    from docling_eval_spark.operators.dedup import near_dedup_against

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    hist = docs.where(F.col("doc_id") % 2 == 0)
    batch = (
        docs.where(F.col("doc_id") % 2 == 1)
        .unionByName(
            hist.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 3_000_000_000).alias("doc_id"),
                F.concat("text", F.lit(" xdup")).alias("text")))
        .unionByName(
            hist.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 4_000_000_000).alias("doc_id"),
                F.col("text"))))
    kept = near_dedup_against(batch, hist)
    return kept.select(
        "doc_id", F.md5("text").alias("text_md5")).orderBy("doc_id")


def _q_embedding_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity tier composed with the components tier: x2 and x0.5
    scaled copies make 3-vector parallel families; hyperplane-LSH
    candidate pairs at cosine>=0.9999 feed connected components, which
    must match the oracle's O(n^2) closure (parallel vectors always
    share LSH buckets, so the candidate set is lossless here)."""
    from docling_eval_spark.operators.dedup import dup_components
    from docling_eval_spark.operators.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")

    def scaled(factor: float, offset: int) -> DataFrame:
        return emb.select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform("embedding",
                        lambda x: x * F.lit(factor)).alias("embedding"))

    aug = emb.unionByName(scaled(2.0, 1_000_000_000)) \
        .unionByName(scaled(0.5, 2_000_000_000))
    pairs = lsh_near_dup_pairs(aug, threshold=0.9999,
                               max_bucket_size=100_000)
    comps = dup_components(pairs.select("a", "b"))
    return (
        aug.select("vec_id")
        .join(comps, aug["vec_id"] == comps["node"], "left")
        .select("vec_id",
                F.coalesce("component", "vec_id").alias("component"))
        .orderBy("vec_id"))


def _q_gopher_line_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1.1 line rules over 4-word pseudo-lines with
    deterministic decoration: line i of doc d gets a '- ' bullet when
    (d+i)%3==0 and a trailing ' ...' when (d+i)%4==0, so both fractions
    and all flag branches are exercised."""
    from docling_eval_spark.operators.webtext import gopher_line_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    ws = F.split(F.trim("text"), r"\s+")
    nc = F.ceil(F.size(ws) / F.lit(4.0)).cast("int")
    d = F.col("doc_id")
    lines = F.transform(
        F.sequence(F.lit(0), nc - 1),
        lambda i: F.concat(
            F.when((d + i) % 3 == 0, F.lit("- ")).otherwise(F.lit("")),
            F.concat_ws(" ", F.slice(ws, i * 4 + 1, 4)),
            F.when((d + i) % 4 == 0, F.lit(" ...")).otherwise(F.lit(""))))
    lined = docs.select(
        "doc_id", F.concat_ws("\n", lines).alias("text_lines"))
    out = gopher_line_flags(lined, text_col="text_lines")
    return out.select(
        "doc_id", "n_lines", "bullet_line_frac", "ellipsis_line_frac",
        "flag_bullet", "flag_ellipsis", "gopher_line_pass"
    ).orderBy("doc_id")


def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style canonicalization gate: doc_id%3==0 docs get
    deterministic noise (leading space, doubled spaces, trailing
    tab+BEL); normalization must recover the ORIGINAL text byte-exactly
    (identity flag) and mark exactly those docs changed."""
    from docling_eval_spark.operators.webtext import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    noisy = docs.withColumn(
        "text_noisy",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" "),
                        F.regexp_replace("text", " ", "  "),
                        F.lit("\t\x07")))
        .otherwise(F.col("text")))
    out = normalize_text(noisy, text_col="text_noisy")
    return out.select(
        "doc_id",
        F.col("text_norm_changed").alias("changed"),
        F.md5("text_norm").alias("norm_md5"),
        (F.md5("text_norm") == F.md5("text")).alias("recovers_original"),
    ).orderBy("doc_id")


def _q_dedup_against_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: even doc_ids play yesterday's corpus,
    odd doc_ids the new batch; batch rows whose text exists in history
    drop, within-batch families collapse to min id."""
    from docling_eval_spark.operators.dedup import dedup_against

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    history = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    kept = dedup_against(batch, history)
    return kept.select(
        "doc_id", F.md5("text").alias("text_md5")).orderBy("doc_id")


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2022 exact duplicate-span measurement at n=8 tokens:
    per-doc count of positions inside corpus-repeated 8-grams and the
    interval-merged token coverage (the 31-word vocab yields ~5% dup
    grams, exercising merge gaps and the zero branch)."""
    from docling_eval_spark.operators.webtext import duplicate_span_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    return duplicate_span_stats(docs, n=8).orderBy("doc_id")


def _q_url_filter_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb §3.1 URL filtering over synthetic page URLs: three
    blocklisted hosts, a 'casino' path segment on doc_id%31==0 (hard
    score 1.0 -> dropped) and 'lottery' on doc_id%37==0 (soft 0.5 ->
    kept under the 1.0 threshold)."""
    from docling_eval_spark.operators.webtext import url_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    seg = (
        F.when((F.col("doc_id") % 31 == 0) & (F.col("doc_id") % 37 == 0),
               "casino/lottery")
        .when(F.col("doc_id") % 31 == 0, "casino")
        .when(F.col("doc_id") % 37 == 0, "lottery")
        .otherwise("p"))
    pages = docs.withColumn(
        "url",
        F.concat(F.lit("https://host"),
                 F.lpad((F.col("doc_id") % 97).cast("string"), 4, "0"),
                 F.lit(".example/"), seg, F.lit("/"),
                 F.col("doc_id").cast("string")))
    blocked = [f"host{h:04d}.example" for h in (3, 13, 23)]
    out = url_filter(pages, blocked_domains=blocked, threshold=1.0)
    return out.select("doc_id", "domain", "blocked_domain",
                      "url_score", "url_keep").orderBy("doc_id")


def _q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 line+page filters over punctuation-augmented pseudo-lines
    (every i%3!=0 line gets terminal punctuation; docs at doc_id%17==0
    gain a lorem-ipsum line, %19==0 a javascript/brace line) so every
    rule fires on some documents."""
    from docling_eval_spark.operators.webtext import (
        c4_page_filter, with_word_lines)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    lined = with_word_lines(docs, words_per_line=6)
    lines = F.split(F.col("text_lines"), "\n")
    punct = F.transform(
        lines,
        lambda l, i: F.concat(
            l, F.when(i % 3 != 0, F.lit(".")).otherwise(F.lit(""))))
    aug = lined.select(
        "doc_id",
        F.concat(
            F.concat_ws("\n", punct),
            F.when(F.col("doc_id") % 17 == 0,
                   F.lit("\nlorem ipsum dolor sit amet consectetur."))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 19 == 0,
                   F.lit("\nvar x = { a: 1 } javascript snippet here."))
            .otherwise(F.lit("")),
        ).alias("page_text"))
    out = c4_page_filter(aug, text_col="page_text")
    return out.select(
        "doc_id", "n_lines", "n_kept_lines", "keep",
        F.md5("text_clean").alias("clean_md5"),
    ).orderBy("doc_id")


def _q_c4_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2's badlist page gate: docs at doc_id%7==0 gain a line
    carrying a blocklisted token — those pages must drop on the
    arrays_overlap badwords rule while every other page-keep rule
    still applies; the oracle replicates the full composite."""
    from docling_eval_spark.operators.webtext import c4_page_filter

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").where(F.col("doc_id") < 500))
    page = F.concat(
        F.col("text"), F.lit("."),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("\nzzzbad ok line too.")).otherwise(F.lit("")))
    out = c4_page_filter(
        docs.select("doc_id", page.alias("page_text")),
        text_col="page_text", min_words_per_line=1, min_kept_lines=1,
        badwords=["zzzbad", "qqqbad"])
    return out.select("doc_id", "n_kept_lines", "keep").orderBy("doc_id")


def _q_webtext_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot-per-URL collapse over synthetic recrawls
    (1 + doc_id%3 captures per url): max_by partial-aggregable arg-max,
    not a window sort."""
    from docling_eval_spark.operators.webtext import latest_snapshot

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars", "lang")
    crawls = docs.select(
        "doc_id", "n_chars", "lang",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.col("doc_id") % 3)).alias("r"))
    pages = crawls.select(
        F.concat(F.lit("https://h.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") * 7 % 100000 + F.col("r") * 3600).alias("warc_ts"),
        (F.col("n_chars") + F.col("r")).alias("n_chars"),
        "lang")
    return latest_snapshot(
        pages, key="url", ts_col="warc_ts",
        payload_cols=["n_chars", "lang"]).orderBy("url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry, ordered for driver coverage.

    ROTATION POLICY: the external correctness gate hashes the FIRST 50
    entries of this dict each round, so ordering is coverage policy. Sort
    priority: (1) entries whose IMPLEMENTATION changed since their last
    gate row (CORRECTNESS_r{N}.json) — a stale row under changed code is
    the worst coverage state, so changed-code outranks never-stale; (2)
    entries with no gate row ever; (3) entries whose last gate row is
    the OLDEST; (4) the rest, least-recently-verified first.

    Current order: the six entries whose code changed lead
    (perplexity_buckets and perplexity_by_lang rank with
    slicing.score_rank, which now orders NaN after every number and
    before NULL; gopher_repetition_full's operator gives a text with no
    word characters the NULL-text row; temperature_mix_sample and
    stratified_sample_langs keep NULL as a stratum and join their rate
    table null-safe, and range_slice runs on the narrowed row-count
    prefix sum), then the four near-dedup entries and textract_spans
    of an earlier change, then the round-5 order unchanged.
    """
    return {
        # --- implementation changed since their last gate row ---
        "perplexity_buckets": _q_perplexity_buckets,
        "perplexity_by_lang": _q_perplexity_by_lang,
        "gopher_repetition_full": _q_gopher_repetition_full,
        "temperature_mix_sample": _q_temperature_mix,
        "stratified_sample_langs": _q_stratified_sample_langs,
        "range_slice": _q_range_slice,
        # --- changed in an earlier change ---
        "near_dedup_kept": _q_near_dedup_kept,
        "near_dedup_against_history": _q_near_dedup_against,
        "dedup_against_history": _q_dedup_against_history,
        "minhash_near_dup": _q_minhash_near_dup,
        "textract_spans": _q_textract_spans,
        # --- changed in round 5 ---
        "robots_meta_flags": _q_robots_flags,
        "embedding_near_dup": _q_embedding_near_dup,
        "embedding_dup_components": _q_embedding_dup_components,
        "webtext_line_dedup": _q_webtext_line_dedup,
        "webtext_unigram_nll": _q_webtext_unigram_nll,
        # --- round-5 additions, never driver-verified ---
        "lang_id_classifier": _q_lang_id_classifier,
        "robots_txt_verdicts": _q_robots_txt_verdicts,
        "cdx_fetch_manifest": _q_cdx_fetch_manifest,
        "cdx_ranged_fetch": _q_cdx_ranged_fetch,
        "wet_roundtrip": _q_wet_roundtrip,
        "semdedup_keep": _q_semdedup,
        "c4_badwords_filter": _q_c4_badwords,
        # --- last driver row is CORRECTNESS_r02.json (oldest) ---
        "rejection_summary": _q_rejection_summary,
        "timings_rollup": _q_timings_rollup,
        "timings_stats": _q_timings_stats,
        "timings_histogram": _q_timings_histogram,
        "consolidation_pivot": _q_consolidation_pivot,
        "kv_graph_labels": _q_kv_graph_labels,
        # --- r3 driver rows predating their round-4 code changes ---
        "gopher_quality": _q_gopher_quality,
        "webtext_latest_snapshot": _q_webtext_latest_snapshot,
        "c4_line_filter": _q_c4_line_filter,
        # --- window fill: last driver row is CORRECTNESS_r03.json ---
        "azure_docai_spans": _q_azure_docai_spans,
        "cumulative_histogram": _q_cumulative_histogram,
        "cvat_document_items": _q_cvat_document_items,
        "dedup_components": _q_dedup_components,
        "doclaynet_v2_kv": _q_doclaynet_v2_kv,
        "duplicate_spans": _q_duplicate_spans,
        "embedding_ivf_topk": _q_embedding_ivf_topk,
        "embedding_topk": _q_embedding_topk,
        "extract_block_counts": _q_extract_block_counts,
        "extract_identity_rate": _q_extract_identity_rate,
        "extract_text_md5": _q_extract_text_md5,
        "google_docai_spans": _q_google_docai_spans,
        "gopher_line_flags": _q_gopher_line_flags,
        "hash_sample_docs": _q_hash_sample_docs,
        "ngram_decontaminate": _q_ngram_decontaminate,
        # --- past the window: r3-verified, unchanged since ---
        "png_decode_features": _q_png_decode_features,
        "otsl_table_grid": _q_otsl_table_grid,
        "pii_redaction": _q_pii_redaction,
        "webtext_domain_rollup": _q_webtext_domain_rollup,
        "normalize_text": _q_normalize_text,
        "url_filter_pages": _q_url_filter_pages,
        "pdf_extract_text_md5": _q_pdf_extract_text_md5,
        "teds_tables_identity": _q_teds_tables_identity,
        # --- r4-verified, unchanged since ---
        "payload_mime_counts": _q_payload_mime_counts,
        "warc_roundtrip": _q_warc_roundtrip,
        "url_dedup_canonical": _q_url_dedup,
        "table_delta_histogram": _q_table_delta_histogram,
        "ocr_page_cer": _q_ocr_page_cer,
        "layout_image_metrics": _q_layout_image_metrics,
        "layout_corpus_map": _q_layout_corpus_map,
        "reading_order_ard": _q_reading_order_ard,
        "bbox_text_metrics": _q_bbox_text_metrics,
        "markdown_export_md5": _q_markdown_export_md5,
        "doctags_parse": _q_doctags_parse,
        "omnidoc_spans": _q_omnidoc_spans,
        "pixparse_page_cells": _q_pixparse_page_cells,
        "docvqa_kv_cells": _q_docvqa_kv_cells,
        "docvqa_anls": _q_docvqa_anls,
        "doclaynet_layout_spans": _q_doclaynet_layout_spans,
        "funsd_kv_labels": _q_funsd_kv_labels,
        "layout_class_ap": _q_layout_class_ap,
        "cvat_roundtrip_spans": _q_cvat_roundtrip_spans,
        "multi_prov_guard": _q_multi_prov_guard,
        "gt_builder_spans": _q_gt_builder_spans,
        "table_builder_records": _q_table_builder_records,
        "prediction_files_score": _q_prediction_files_score,
        "doctags_files_spans": _q_doctags_files_spans,
        "ocr_cer": _q_ocr_cer,
        "doc_stats": _q_doc_stats,
        "doc_len_histogram": _q_doc_len_histogram,
        "lang_distribution": _q_lang_distribution,
        "dedup_exact": _q_dedup_exact,
        "multimodal_meta": _q_multimodal_meta,
        "token_counts": _q_token_counts,
        "quality_scores": _q_quality_scores,
        "quality_filter": _q_quality_filter,
    }


def oracle_sql() -> dict[str, str]:
    from docling_eval_spark.functions.langid import LANGS as _LID_LANGS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    lid_arr = "[" + ", ".join(f"'{l}'" for l in _LID_LANGS) + "]"
    return {
        # construction-truth oracle: the fixture page of doc i is BUILT
        # in LANGS[i % 23], so the oracle IS the true label — a hash
        # match means 100% classifier accuracy on the fixture
        "lang_id_classifier": (
            f"SELECT doc_id, {lid_arr}"
            f"[cast(doc_id % {len(_LID_LANGS)} AS int) + 1] AS lang_pred "
            "FROM documents ORDER BY doc_id"
        ),
        # closed-form oracles: the corpus generator guarantees byte-identical
        # extraction, so the oracle is the text column itself
        "extract_text_md5": "SELECT doc_id, md5(text) AS text_md5 FROM documents",
        "pdf_extract_text_md5": "SELECT doc_id, md5(text) AS text_md5 FROM documents",
        "extract_identity_rate": (
            "SELECT count(*) AS n_docs, count(*) AS n_identical FROM documents"
        ),
        "extract_block_counts": (
            "SELECT doc_id, 1 AS n_content, TRUE AS has_boiler FROM documents"
        ),
        "teds_tables_identity": (
            "SELECT doc_id, 1.0 AS teds, 1.0 AS teds_struct FROM documents "
            "WHERE doc_id % 5 = 0"
        ),
        "table_delta_histogram": (
            "WITH t AS (SELECT doc_id, doc_id % 4 AS m FROM documents "
            "WHERE doc_id % 5 = 0), "
            "c AS (SELECT "
            "cast(sum(CASE WHEN m IN (1,3) THEN 1 ELSE 0 END) AS bigint) AS row_m1, "
            "cast(sum(CASE WHEN m IN (0,2) THEN 1 ELSE 0 END) AS bigint) AS row_0, "
            "cast(sum(CASE WHEN m IN (2,3) THEN 1 ELSE 0 END) AS bigint) AS col_m1, "
            "cast(sum(CASE WHEN m IN (0,1) THEN 1 ELSE 0 END) AS bigint) AS col_0, "
            "count(*) AS n FROM t) "
            "SELECT cast(b.d AS int) AS delta, "
            "cast(CASE WHEN b.d = -1 THEN row_m1 WHEN b.d = 0 THEN row_0 "
            "ELSE 0 END AS bigint) AS n_rows, "
            "cast(CASE WHEN b.d = -1 THEN col_m1 WHEN b.d = 0 THEN col_0 "
            "ELSE 0 END AS bigint) AS n_cols, "
            "round(CASE WHEN b.d = -1 THEN row_m1 WHEN b.d = 0 THEN row_0 "
            "ELSE 0 END * 1.0 / n, 6) AS frac_rows, "
            "round(CASE WHEN b.d = -1 THEN col_m1 WHEN b.d = 0 THEN col_0 "
            "ELSE 0 END * 1.0 / n, 6) AS frac_cols "
            "FROM (SELECT unnest(range(-10, 11)) AS d) b, c ORDER BY delta"
        ),
        "ocr_page_cer": (
            "WITH d AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks "
            "FROM documents), "
            "p AS (SELECT doc_id, i AS page_no, "
            "strlen(array_to_string("
            "  toks[(i-1)*25+1 : least(len(toks), i*25)], ' ')) AS len, "
            "(doc_id + i) % 3 AS m "
            "FROM d, unnest(range(1, "
            "  cast(ceil(len(toks) / 25.0) AS int) + 1)) AS t(i)) "
            "SELECT doc_id, cast(page_no AS int) AS page_no, "
            "cast(m AS int) AS mode, "
            "CASE WHEN len = 0 THEN 1.0 WHEN m = 0 THEN 0.0 "
            "ELSE round(1.0 / len, 6) END AS cer, "
            "CASE WHEN len = 0 THEN 0.0 WHEN m = 0 THEN 1.0 "
            "ELSE round(1.0 - 1.0 / len, 6) END AS char_accuracy "
            "FROM p ORDER BY doc_id, page_no"
        ),
        # closed-form layout/reading-order/OCR oracles — see
        # corpus/layout_synth.py for the derivations
        "layout_image_metrics": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n, doc_id % 4 AS m "
            "FROM documents WHERE doc_id % 4 < 3) "
            "SELECT doc_id, "
            "CASE WHEN m = 0 THEN 1.0 WHEN m = 1 THEN "
            "  round((1 + (floor(100.0*(n-2)/(n-1)) + 1)/101.0)/2, 6) "
            "ELSE 0.7 END AS map, "
            "CASE WHEN m = 0 THEN 1.0 WHEN m = 1 THEN "
            "  round((1 + (floor(100.0*(n-2)/(n-1)) + 1)/101.0)/2, 6) "
            "ELSE 1.0 END AS map_50, "
            "CASE WHEN m = 0 THEN 1.0 WHEN m = 1 THEN "
            "  round((1 + (floor(100.0*(n-2)/(n-1)) + 1)/101.0)/2, 6) "
            "ELSE 1.0 END AS map_75, "
            "CASE WHEN m = 2 THEN 0.9 ELSE 1.0 END AS mask_precision, "
            "CASE WHEN m = 0 THEN 1.0 WHEN m = 1 THEN "
            "  round((n-1.0)/n, 6) ELSE 0.9 END AS mask_recall, "
            "CASE WHEN m = 0 THEN 1.0 WHEN m = 1 THEN "
            "  round(2.0*(n-1)/(2*n-1), 6) ELSE 0.9 END AS mask_f1, "
            "CASE WHEN m = 2 THEN round(144.0/176.0, 6) ELSE 1.0 "
            "END AS avg_iou_50 "
            "FROM d"
        ),
        "layout_corpus_map": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n, doc_id % 4 AS m "
            "FROM documents WHERE doc_id % 4 IN (0, 1)), "
            "ap AS (SELECT (1 + (floor(100.0 * sum(n - 1 - (CASE WHEN m = 1 "
            "THEN 1 ELSE 0 END)) / sum(n - 1)) + 1) / 101.0) / 2 AS v FROM d) "
            "SELECT round(v, 6) AS map, round(v, 6) AS map_50, "
            "round(v, 6) AS map_75 FROM ap"
        ),
        "reading_order_ard": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n, doc_id % 4 AS m "
            "FROM documents) "
            "SELECT doc_id, "
            "CASE WHEN m = 3 THEN round(1 - 2.0/(n*n), 6) ELSE 1.0 "
            "END AS ard_norm, "
            "CASE WHEN m = 3 THEN round(1 - 2.0/(n*n*n), 6) ELSE 1.0 "
            "END AS w_ard_norm "
            "FROM d"
        ),
        "bbox_text_metrics": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n, doc_id % 4 AS m "
            "FROM documents WHERE doc_id % 4 < 3) "
            "SELECT doc_id, "
            "cast(CASE WHEN m = 1 THEN n - 1 ELSE n END AS int) AS n_matched, "
            "cast(CASE WHEN m = 1 THEN 1 ELSE 0 END AS int) AS n_orphan_gt, "
            "0 AS n_orphan_pred, "
            "CASE WHEN m = 2 THEN round(144.0/176.0, 6) ELSE 1.0 END AS mean_iou, "
            "1.0 AS mean_f1, 0.0 AS mean_edit FROM d"
        ),
        "markdown_export_md5": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents) "
            "SELECT doc_id, md5("
            "'# block ' || (doc_id % 97) || ' 0 content words' || "
            "chr(10) || chr(10) || array_to_string("
            "  list_transform(range(1, n), "
            "    k -> 'block ' || (doc_id % 97) || ' ' || k || ' content words'), "
            "  chr(10) || chr(10))"
            ") AS md_md5 FROM d"
        ),
        "doctags_parse": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents) "
            "SELECT doc_id, cast(k AS int) AS idx, "
            "CASE WHEN k = 0 THEN 'title' ELSE 'text' END AS label, "
            "10 AS l, cast(2 + 10*k AS int) AS t, 30 AS r, "
            "cast(10 + 10*k AS int) AS b, "
            "'block ' || (doc_id % 97) || ' ' || k || ' content words' AS text "
            "FROM d, unnest(range(0, n)) AS u(k) ORDER BY doc_id, idx"
        ),
        "omnidoc_spans": (
            "WITH d AS (SELECT doc_id, doc_id % 4 + 2 AS k FROM documents "
            "WHERE doc_id < 300), "
            "e AS (SELECT doc_id, j, (doc_id + j) % 12 AS li "
            "FROM d, unnest(range(0, k)) AS u(j)), "
            "c AS (SELECT *, CASE li WHEN 0 THEN 'title' "
            "WHEN 1 THEN 'text_block' WHEN 2 THEN 'table' "
            "WHEN 3 THEN 'table_caption' WHEN 4 THEN 'header' "
            "WHEN 5 THEN 'figure' WHEN 6 THEN 'figure_caption' "
            "WHEN 7 THEN 'footer' WHEN 8 THEN 'equation_isolated' "
            "WHEN 9 THEN 'page_number' WHEN 10 THEN 'text_mask' "
            "ELSE 'weird_cat' END AS cat, "
            "CASE WHEN j % 2 = 0 THEN 'body ' || doc_id || ' ' || j "
            "END AS body FROM e) "
            "SELECT doc_id, cast(j AS int) AS idx, "
            "CASE li WHEN 0 THEN 'title' WHEN 1 THEN 'text' "
            "WHEN 2 THEN 'table' WHEN 3 THEN 'caption' "
            "WHEN 4 THEN 'page_header' WHEN 5 THEN 'picture' "
            "WHEN 6 THEN 'caption' WHEN 7 THEN 'page_footer' "
            "WHEN 8 THEN 'formula' WHEN 9 THEN 'page_footer' "
            "ELSE 'text' END AS label, "
            "round(4.0 + j * 5, 6) AS l, round(6.0 + j * 4, 6) AS t, "
            "round(14.0 + j * 5, 6) AS r, round(13.0 + j * 4, 6) AS b, "
            "coalesce(body, '&lt;omitted text for ' || cat || '&gt;') AS text, "
            "cast(strlen(coalesce(body, "
            "'&lt;omitted text for ' || cat || '&gt;')) AS int) "
            "AS charspan_end "
            "FROM c WHERE li != 11 ORDER BY doc_id, idx"
        ),
        "textract_spans": (
            "WITH d AS (SELECT doc_id, cast(100 + doc_id % 7 AS double) AS w, "
            "cast(200 + doc_id % 5 AS double) AS h, doc_id % 3 + 1 AS k "
            "FROM documents WHERE doc_id < 400), "
            "rows AS ("
            "SELECT doc_id, 0 AS item_idx, 'page' AS kind, 1 AS page_no, "
            "NULL AS label, NULL AS text, 0.0 AS l, 0.0 AS t, w AS r, "
            "h AS b, NULL AS row_idx, NULL AS col_idx, "
            "NULL AS column_header, NULL AS row_header FROM d "
            "UNION ALL SELECT doc_id, 1, 'span', 1, 'title', "
            "'Title ' || doc_id, w/4, h/8, 3*w/4, 3*h/8, "
            "NULL, NULL, NULL, NULL FROM d "
            "UNION ALL SELECT doc_id, 2+i, 'span', 1, 'text', "
            "'text '||doc_id||' '||i, (1+i)*w/16, h/4, (2+i)*w/16, 5*h/16, "
            "NULL, NULL, NULL, NULL FROM d, unnest(range(0, k)) AS u(i) "
            "UNION ALL SELECT doc_id, 2+k+j, 'word', 1, NULL, "
            "'w'||j||' '||doc_id, (8+j)*w/16, h/2, (9+j)*w/16, 9*h/16, "
            "NULL, NULL, NULL, NULL FROM d, unnest(range(0, 2)) AS v(j) "
            "UNION ALL SELECT doc_id, 4+k, 'table', 1, 'table', NULL, "
            "0.25, 0.5, 0.75, 0.875, NULL, NULL, NULL, NULL "
            "FROM d WHERE doc_id % 2 = 0 "
            "UNION ALL SELECT doc_id, 5+k+2*r+c, 'table_cell', 1, NULL, "
            "'c '||doc_id||' '||r||' '||c, (c+1)/8.0, (r+1)/8.0, "
            "(c+2)/8.0, (r+2)/8.0, r, c, r = 0, c = 0 "
            "FROM d, unnest(range(0, 2)) AS rr(r), "
            "unnest(range(0, 2)) AS cc(c) WHERE doc_id % 2 = 0 "
            "UNION ALL SELECT doc_id, 9+k+2*r+c, 'word', 1, NULL, "
            "'c '||doc_id||' '||r||' '||c, (c+1)*w/8, (r+1)*h/8, "
            "(c+2)*w/8, (r+2)*h/8, NULL, NULL, NULL, NULL "
            "FROM d, unnest(range(0, 2)) AS rr(r), "
            "unnest(range(0, 2)) AS cc(c) WHERE doc_id % 2 = 0) "
            "SELECT doc_id, cast(item_idx AS int) AS item_idx, kind, "
            "cast(page_no AS int) AS page_no, label, text, "
            "round(l, 6) AS l, round(t, 6) AS t, round(r, 6) AS r, "
            "round(b, 6) AS b, cast(row_idx AS int) AS row_idx, "
            "cast(col_idx AS int) AS col_idx, "
            "cast(column_header AS boolean) AS column_header, "
            "cast(row_header AS boolean) AS row_header "
            "FROM rows ORDER BY doc_id, item_idx"
        ),
        "azure_docai_spans": (
            "WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS ev FROM documents "
            "WHERE doc_id < 400), "
            "rows AS ("
            "SELECT doc_id, 0 AS item_idx, 'page' AS kind, 1 AS page_no, "
            "NULL AS label, NULL AS text, 0.0 AS l, 0.0 AS t, 8.5 AS r, "
            "11.0 AS b, NULL AS row_idx, NULL AS col_idx, "
            "NULL AS column_header, NULL AS row_header FROM d "
            "UNION ALL SELECT doc_id, 1+j, 'word', 1, NULL, "
            "'w'||j||' '||doc_id, cast(j+1 AS double), 2.0, "
            "cast(j+3 AS double), 4.0, NULL, NULL, NULL, NULL "
            "FROM d, unnest(range(0, 2)) AS u(j) "
            "UNION ALL SELECT doc_id, 3, 'table', 1, 'table', NULL, "
            "0.0, 0.0, 4.0, 4.0, NULL, NULL, NULL, NULL FROM d WHERE ev "
            "UNION ALL SELECT doc_id, 4+2*r+c, 'table_cell', 1, NULL, "
            "'c '||doc_id||' '||r||' '||c, cast(2*c AS double), "
            "cast(2*r AS double), cast(2*c+2 AS double), "
            "cast(2*r+2 AS double), r, c, FALSE, FALSE "
            "FROM d, unnest(range(0, 2)) AS rr(r), "
            "unnest(range(0, 2)) AS cc(c) WHERE ev "
            "UNION ALL SELECT doc_id, CASE WHEN ev THEN 8 ELSE 3 END, "
            "'span', 1, CASE doc_id % 6 WHEN 1 THEN 'title' "
            "WHEN 2 THEN 'section_header' WHEN 3 THEN 'page_header' "
            "WHEN 4 THEN 'page_footer' ELSE 'text' END, "
            "'para '||doc_id, 0.0, cast(doc_id % 5 AS double), 6.0, "
            "cast(doc_id % 5 + 1 AS double), NULL, NULL, NULL, NULL FROM d "
            "UNION ALL SELECT doc_id, CASE WHEN ev THEN 9 ELSE 4 END, "
            "'span', 1, 'picture', NULL, 1.0, 1.0, 3.0, 3.0, "
            "NULL, NULL, NULL, NULL FROM d) "
            "SELECT doc_id, cast(item_idx AS int) AS item_idx, kind, "
            "cast(page_no AS int) AS page_no, label, text, "
            "round(l, 6) AS l, round(t, 6) AS t, round(r, 6) AS r, "
            "round(b, 6) AS b, cast(row_idx AS int) AS row_idx, "
            "cast(col_idx AS int) AS col_idx, "
            "cast(column_header AS boolean) AS column_header, "
            "cast(row_header AS boolean) AS row_header "
            "FROM rows ORDER BY doc_id, item_idx"
        ),
        "google_docai_spans": (
            "WITH d AS (SELECT doc_id, doc_id % 3 = 0 AS tb, "
            "cast(300 + doc_id % 10 AS double) AS w, "
            "cast(400 + doc_id % 10 AS double) AS h "
            "FROM documents WHERE doc_id < 400), "
            "rows AS ("
            "SELECT doc_id, 0 AS item_idx, 'page' AS kind, 1 AS page_no, "
            "NULL AS label, NULL AS text, 0.0 AS l, 0.0 AS t, w AS r, "
            "h AS b, NULL AS row_idx, NULL AS col_idx, "
            "NULL AS column_header, NULL AS row_header FROM d "
            "UNION ALL SELECT doc_id, 1, 'span', 1, 'text', "
            "'head body tail ' || doc_id, 1.0, 2.0, 9.0, 5.0, "
            "NULL, NULL, NULL, NULL FROM d "
            "UNION ALL SELECT doc_id, 2, 'table', 1, 'table', NULL, "
            "0.0, 10.0, 20.0, 30.0, NULL, NULL, NULL, NULL FROM d WHERE tb "
            "UNION ALL SELECT doc_id, 3, 'table_cell', 1, NULL, 'head', "
            "0.0, 10.0, 5.0, 20.0, 0, 0, TRUE, FALSE FROM d WHERE tb "
            "UNION ALL SELECT doc_id, 4, 'table_cell', 1, NULL, 'body', "
            "5.0, 10.0, 10.0, 20.0, 0, 1, TRUE, FALSE FROM d WHERE tb "
            "UNION ALL SELECT doc_id, 5, 'table_cell', 1, NULL, 'tail', "
            "0.0, 20.0, 5.0, 30.0, 1, 0, FALSE, TRUE FROM d WHERE tb) "
            "SELECT doc_id, cast(item_idx AS int) AS item_idx, kind, "
            "cast(page_no AS int) AS page_no, label, text, "
            "round(l, 6) AS l, round(t, 6) AS t, round(r, 6) AS r, "
            "round(b, 6) AS b, cast(row_idx AS int) AS row_idx, "
            "cast(col_idx AS int) AS col_idx, "
            "cast(column_header AS boolean) AS column_header, "
            "cast(row_header AS boolean) AS row_header "
            "FROM rows ORDER BY doc_id, item_idx"
        ),
        "webtext_line_dedup": (
            "WITH w AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
            "c AS (SELECT doc_id, ws, cast(ceil(len(ws) / 3.0) AS int) "
            "AS nc FROM w), "
            "l AS (SELECT doc_id, cast(i AS bigint) AS pos, "
            "array_to_string(ws[cast(i*3+1 AS int):cast(i*3+3 AS int)], ' ')"
            " AS line FROM c, unnest(range(0, nc)) AS u(i)), "
            "e AS (SELECT doc_id, pos, line, "
            "doc_id * 1048576 + pos AS packed FROM l WHERE strlen(line) > 0),"
            " win AS (SELECT line, min(packed) AS win FROM e GROUP BY line), "
            "k AS (SELECT e.doc_id, e.pos, e.line FROM e JOIN win "
            "ON e.line = win.line AND e.packed = win.win), "
            "tot AS (SELECT doc_id, count(*) AS n_lines FROM e "
            "GROUP BY doc_id), "
            "kept AS (SELECT doc_id, count(*) AS n_kept, "
            "string_agg(line, chr(10) ORDER BY pos) AS txt FROM k "
            "GROUP BY doc_id) "
            "SELECT d.doc_id, cast(coalesce(tot.n_lines, 0) AS bigint) "
            "AS n_lines, cast(coalesce(kept.n_kept, 0) AS bigint) AS n_kept,"
            " md5(coalesce(kept.txt, '')) AS kept_md5 "
            "FROM documents d LEFT JOIN tot ON tot.doc_id = d.doc_id "
            "LEFT JOIN kept ON kept.doc_id = d.doc_id ORDER BY d.doc_id"
        ),
        "gopher_quality": (
            "WITH w AS (SELECT doc_id, text, "
            "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
            "f AS (SELECT doc_id, len(ws) AS n_words, "
            "round(cast(list_sum(list_transform(ws, x -> strlen(x))) "
            "AS double) / len(ws), 6) AS mean_word_len, "
            "round(cast(len(list_filter(ws, "
            "x -> regexp_matches(x, '[a-zA-Z]'))) AS double) / len(ws), 6) "
            "AS alpha_word_frac, "
            f"len(list_filter(ws, x -> list_contains([{stop_list}], x))) "
            "AS n_stop, "
            "round((strlen(text) - strlen(replace(text, '#', '')) "
            "+ (strlen(text) - strlen(replace(text, '...', ''))) / 3.0 "
            "+ (strlen(text) - strlen(replace(text, '…', ''))) / 3.0) "
            "/ len(ws), 6) AS symbol_ratio FROM w) "
            "SELECT doc_id, n_words, mean_word_len, alpha_word_frac, "
            "n_stop, symbol_ratio, "
            "n_words >= 20 AND n_words <= 100000 AS flag_word_count, "
            "mean_word_len >= 3.0 AND mean_word_len <= 10.0 "
            "AS flag_word_len, "
            "symbol_ratio <= 0.1 AS flag_symbol, "
            "alpha_word_frac >= 0.8 AS flag_alpha, "
            "n_stop >= 2 AS flag_stop, "
            "(n_words >= 20 AND n_words <= 100000) AND "
            "(mean_word_len >= 3.0 AND mean_word_len <= 10.0) AND "
            "symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8 AND "
            "n_stop >= 2 AS gopher_pass "
            "FROM f ORDER BY doc_id"
        ),
        "pii_redaction": (
            "WITH t AS (SELECT doc_id, text || ' contact user' || doc_id "
            "|| '@mail.example or 10.0.' || cast(doc_id % 256 AS varchar) "
            "|| '.25 tel +14155550' || "
            "lpad(cast(doc_id % 100 AS varchar), 3, '0') AS txt "
            "FROM documents), "
            "r1 AS (SELECT doc_id, len(regexp_extract_all(txt, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
            "AS n_emails, regexp_replace(txt, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g') AS red1 FROM t), "
            "r2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(red1, "
            "'\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ips, "
            "regexp_replace(red1, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', "
            "'<IP>', 'g') AS red2 FROM r1), "
            "r3 AS (SELECT doc_id, n_emails, n_ips, "
            "len(regexp_extract_all(red2, '\\+[0-9]{9,15}')) AS n_phones, "
            "regexp_replace(red2, '\\+[0-9]{9,15}', '<PHONE>', 'g') "
            "AS red3 FROM r2) "
            "SELECT doc_id, n_emails, n_ips, n_phones, md5(red3) AS red_md5 "
            "FROM r3 ORDER BY doc_id"
        ),
        "webtext_domain_rollup": (
            "SELECT 'host' || lpad(cast(CASE WHEN doc_id % 3 <> 0 THEN 0 "
            "ELSE doc_id % 131 END AS varchar), 4, '0') || '.example' "
            "AS domain, count(*) AS n_docs, "
            "round(cast(sum(n_chars) AS double) / count(*), 6) "
            "AS avg_chars FROM documents GROUP BY 1 ORDER BY domain"
        ),
        "webtext_unigram_nll": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS tok "
            "FROM documents), "
            "freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), "
            "tot AS (SELECT cast(sum(cnt) AS bigint) AS total FROM freq) "
            "SELECT doc_id, count(*) AS n_tokens, "
            "round(avg(-ln(cnt / cast(total AS double))), 6) "
            "AS unigram_nll FROM toks JOIN freq USING (tok) "
            "CROSS JOIN tot GROUP BY doc_id ORDER BY doc_id"
        ),
        "hash_sample_docs": (
            "WITH r(rate, thr) AS (VALUES (0.1, '19999999'), "
            "(0.25, '40000000'), (0.5, '80000000')) "
            "SELECT rate, count(doc_id) AS n, "
            "cast(coalesce(sum(doc_id), 0) AS bigint) AS id_sum "
            "FROM r LEFT JOIN documents "
            "ON substr(md5(doc_id || ':r3'), 1, 8) < thr "
            "GROUP BY rate ORDER BY rate"
        ),
        "stratified_sample_langs": (
            "WITH r(lang, thr) AS (VALUES ('de', '40000000'), "
            "('en', 'g'), ('zh', '19999999')) "
            "SELECT lang, cast(count(*) AS bigint) AS n, "
            "cast(sum(doc_id) AS bigint) AS id_sum "
            "FROM documents JOIN r USING (lang) "
            "WHERE substr(md5(doc_id || ':mix'), 1, 8) < thr "
            "GROUP BY lang ORDER BY lang"
        ),
        "dedup_components": (
            "WITH RECURSIVE fam AS (SELECT md5(text) AS h, "
            "min(doc_id) AS mn FROM documents GROUP BY md5(text)), "
            "e0 AS (SELECT d.doc_id AS a, fam.mn AS b FROM documents d "
            "JOIN fam ON md5(d.text) = fam.h WHERE d.doc_id <> fam.mn "
            "UNION SELECT doc_id - 1, doc_id FROM documents "
            "WHERE doc_id % 50 BETWEEN 1 AND 5), "
            "e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), "
            "reach(node, comp) AS (SELECT a, a FROM e "
            "UNION SELECT e.a, r.comp FROM e JOIN reach r ON e.b = r.node), "
            "mc AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node) "
            "SELECT d.doc_id, "
            "cast(coalesce(mc.comp, d.doc_id) AS bigint) AS component "
            "FROM documents d LEFT JOIN mc ON d.doc_id = mc.node "
            "ORDER BY d.doc_id"
        ),
        "near_dedup_against_history": (
            "WITH hist AS (SELECT doc_id, text FROM documents "
            "WHERE doc_id % 2 = 0), "
            "batch AS (SELECT doc_id, text FROM documents "
            "WHERE doc_id % 2 = 1 "
            "UNION ALL SELECT doc_id + 3000000000, text || ' xdup' "
            "FROM hist WHERE doc_id % 5 = 0 "
            "UNION ALL SELECT doc_id + 4000000000, text "
            "FROM hist WHERE doc_id % 7 = 0), "
            "b1 AS (SELECT * FROM batch WHERE md5(text) NOT IN "
            "(SELECT md5(text) FROM hist)), "
            "b2 AS (SELECT min(doc_id) AS doc_id FROM b1 "
            "GROUP BY md5(text)), "
            "b3 AS (SELECT b1.doc_id, b1.text FROM b1 "
            "JOIN b2 ON b1.doc_id = b2.doc_id), "
            "gr AS (SELECT doc_id, CASE WHEN "
            "len(string_split_regex(trim(text), '\\s+')) < 3 THEN [text] "
            "ELSE list_distinct(list_transform("
            "range(1, len(string_split_regex(trim(text), '\\s+')) - 1), "
            "i -> string_split_regex(trim(text), '\\s+')[i] || ' ' || "
            "string_split_regex(trim(text), '\\s+')[i+1] || ' ' || "
            "string_split_regex(trim(text), '\\s+')[i+2])) END AS grams, "
            "text FROM (SELECT doc_id, text FROM b3 "
            "UNION ALL SELECT doc_id, text FROM hist)), "
            "bg AS (SELECT gr.* FROM gr JOIN b3 USING (doc_id)), "
            "hg AS (SELECT gr.* FROM gr JOIN hist USING (doc_id)), "
            "mh AS (SELECT DISTINCT bg.doc_id FROM bg, hg "
            "WHERE len(list_intersect(bg.grams, hg.grams)) * 1.0 "
            "/ len(list_distinct(list_concat(bg.grams, hg.grams))) "
            ">= 0.8), "
            "b4 AS (SELECT * FROM b3 WHERE doc_id NOT IN "
            "(SELECT doc_id FROM mh)), "
            "b4g AS (SELECT bg.* FROM bg JOIN b4 USING (doc_id)), "
            "wd AS (SELECT DISTINCT b.doc_id FROM b4g a, b4g b "
            "WHERE a.doc_id < b.doc_id "
            "AND len(list_intersect(a.grams, b.grams)) * 1.0 "
            "/ len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8) "
            "SELECT doc_id, md5(text) AS text_md5 FROM b4 "
            "WHERE doc_id NOT IN (SELECT doc_id FROM wd) ORDER BY doc_id"
        ),
        "embedding_dup_components": (
            "WITH RECURSIVE corpus AS (SELECT vec_id, embedding "
            "FROM embeddings "
            "UNION ALL SELECT vec_id + 1000000000, "
            "list_transform(embedding, x -> x * 2.0) FROM embeddings "
            "UNION ALL SELECT vec_id + 2000000000, "
            "list_transform(embedding, x -> x * 0.5) FROM embeddings), "
            "e0 AS (SELECT a.vec_id AS a, b.vec_id AS b "
            "FROM corpus a, corpus b WHERE a.vec_id < b.vec_id "
            "AND round(list_cosine_similarity(a.embedding, b.embedding), 4) "
            ">= 0.9999), "
            "e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), "
            "reach(node, comp) AS (SELECT a, a FROM e "
            "UNION SELECT e.a, r.comp FROM e JOIN reach r ON e.b = r.node), "
            "mc AS (SELECT node, min(comp) AS comp FROM reach "
            "GROUP BY node) "
            "SELECT c.vec_id, "
            "cast(coalesce(mc.comp, c.vec_id) AS bigint) AS component "
            "FROM corpus c LEFT JOIN mc ON c.vec_id = mc.node "
            "ORDER BY c.vec_id"
        ),
        "gopher_line_flags": (
            "WITH w AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
            "c AS (SELECT doc_id, ws, "
            "cast(ceil(len(ws) / 4.0) AS int) AS nc FROM w), "
            "l AS (SELECT doc_id, "
            "(CASE WHEN (doc_id + i) % 3 = 0 THEN '- ' ELSE '' END) || "
            "array_to_string(ws[cast(i*4+1 AS int):cast(i*4+4 AS int)], ' ') "
            "|| (CASE WHEN (doc_id + i) % 4 = 0 THEN ' ...' ELSE '' END) "
            "AS line FROM c, unnest(range(0, nc)) AS u(i)), "
            "a AS (SELECT doc_id, cast(count(*) AS int) AS n_lines, "
            "round(sum(CASE WHEN regexp_matches(ltrim(line), "
            "'^[-*•‣▪]') THEN 1 ELSE 0 END) "
            "/ cast(count(*) AS double), 6) AS bullet_line_frac, "
            "round(sum(CASE WHEN regexp_matches(rtrim(line), "
            "'(\\.\\.\\.|…)$') THEN 1 ELSE 0 END) "
            "/ cast(count(*) AS double), 6) AS ellipsis_line_frac "
            "FROM l GROUP BY doc_id) "
            "SELECT doc_id, n_lines, bullet_line_frac, ellipsis_line_frac, "
            "bullet_line_frac <= 0.9 AS flag_bullet, "
            "ellipsis_line_frac <= 0.3 AS flag_ellipsis, "
            "bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3 "
            "AS gopher_line_pass FROM a ORDER BY doc_id"
        ),
        "normalize_text": (
            "WITH noisy AS (SELECT doc_id, text, "
            "CASE WHEN doc_id % 3 = 0 THEN ' ' || "
            "replace(text, ' ', '  ') || chr(9) || chr(7) "
            "ELSE text END AS text_noisy FROM documents), "
            "n AS (SELECT doc_id, text, text_noisy, "
            "trim(regexp_replace(regexp_replace(nfc_normalize(text_noisy), "
            "'[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'), "
            "'[ \\t\\r\\n\\f\\v]+', ' ', 'g')) AS text_norm FROM noisy) "
            "SELECT doc_id, text_norm <> text_noisy AS changed, "
            "md5(text_norm) AS norm_md5, "
            "md5(text_norm) = md5(text) AS recovers_original "
            "FROM n ORDER BY doc_id"
        ),
        "dedup_against_history": (
            "WITH h AS (SELECT DISTINCT md5(text) AS _h FROM documents "
            "WHERE doc_id % 2 = 0), "
            "b AS (SELECT doc_id, md5(text) AS _h FROM documents "
            "WHERE doc_id % 2 = 1), "
            "s AS (SELECT doc_id, _h FROM b "
            "WHERE _h NOT IN (SELECT _h FROM h)) "
            "SELECT min(doc_id) AS doc_id, _h AS text_md5 FROM s "
            "GROUP BY _h ORDER BY doc_id"
        ),
        "duplicate_spans": (
            "WITH w AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
            "g AS (SELECT doc_id, i AS pos, "
            "md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS g "
            "FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i) "
            "WHERE len(ws) >= 8), "
            "d AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2), "
            "h AS (SELECT doc_id, pos FROM g JOIN d USING (g)), "
            "c AS (SELECT doc_id, CASE WHEN lag(pos) OVER "
            "(PARTITION BY doc_id ORDER BY pos) IS NULL THEN 8 "
            "ELSE least(8, pos - lag(pos) OVER "
            "(PARTITION BY doc_id ORDER BY pos)) END AS cov FROM h), "
            "p AS (SELECT doc_id, cast(count(*) AS bigint) "
            "AS n_dup_positions, cast(sum(cov) AS bigint) "
            "AS dup_covered_tokens FROM c GROUP BY doc_id) "
            "SELECT w.doc_id, cast(len(ws) AS bigint) AS n_tokens, "
            "cast(greatest(len(ws) - 7, 0) AS bigint) AS n_grams, "
            "cast(coalesce(p.n_dup_positions, 0) AS bigint) "
            "AS n_dup_positions, "
            "cast(coalesce(p.dup_covered_tokens, 0) AS bigint) "
            "AS dup_covered_tokens, "
            "round(coalesce(p.dup_covered_tokens, 0) / len(ws), 6) "
            "AS dup_frac "
            "FROM w LEFT JOIN p ON w.doc_id = p.doc_id ORDER BY w.doc_id"
        ),
        "ngram_decontaminate": (
            "WITH w AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
            "g AS (SELECT doc_id, "
            "array_to_string(list_slice(ws, i, i + 5), ' ') AS gram "
            "FROM w, UNNEST(range(1, len(ws) - 4)) AS t(i) "
            "WHERE len(ws) >= 6), "
            "b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0), "
            "d AS (SELECT DISTINCT doc_id, gram FROM g), "
            "m AS (SELECT doc_id, cast(count(*) AS bigint) AS n_matched "
            "FROM d JOIN b USING (gram) GROUP BY doc_id) "
            "SELECT w.doc_id, "
            "cast(greatest(len(ws) - 5, 0) AS bigint) AS n_grams, "
            "cast(coalesce(m.n_matched, 0) AS bigint) AS n_matched, "
            "coalesce(m.n_matched, 0) >= 1 AS contaminated "
            "FROM w LEFT JOIN m ON w.doc_id = m.doc_id ORDER BY w.doc_id"
        ),
        "url_filter_pages": (
            "WITH p AS (SELECT doc_id, "
            "'host' || lpad(cast(doc_id % 97 AS varchar), 4, '0') "
            "|| '.example' AS domain, "
            "'https://host' || lpad(cast(doc_id % 97 AS varchar), 4, '0') "
            "|| '.example/' || "
            "CASE WHEN doc_id % 31 = 0 AND doc_id % 37 = 0 "
            "THEN 'casino/lottery' "
            "WHEN doc_id % 31 = 0 THEN 'casino' "
            "WHEN doc_id % 37 = 0 THEN 'lottery' ELSE 'p' END "
            "|| '/' || cast(doc_id AS varchar) AS url FROM documents) "
            "SELECT doc_id, domain, "
            "domain IN ('host0003.example', 'host0013.example', "
            "'host0023.example') AS blocked_domain, "
            "round((CASE WHEN url LIKE '%casino%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%webcam%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%escort%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%porn%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%xxx%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%lottery%' THEN 0.5 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%betting%' THEN 0.5 ELSE 0 END), 6) "
            "AS url_score, "
            "NOT domain IN ('host0003.example', 'host0013.example', "
            "'host0023.example') AND "
            "(CASE WHEN url LIKE '%casino%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%webcam%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%escort%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%porn%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%xxx%' THEN 1.0 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%lottery%' THEN 0.5 ELSE 0 END) + "
            "(CASE WHEN url LIKE '%betting%' THEN 0.5 ELSE 0 END) < 1.0 "
            "AS url_keep FROM p ORDER BY doc_id"
        ),
        "c4_line_filter": (
            "WITH w AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
            "l0 AS (SELECT doc_id, list_transform("
            "range(0, cast(ceil(len(ws) / 6.0) AS int)), "
            "i -> array_to_string("
            "ws[cast(i*6+1 AS int):cast(i*6+6 AS int)], ' ')) AS ls "
            "FROM w), "
            "l1 AS (SELECT doc_id, list_transform(range(0, len(ls)), "
            "i -> ls[cast(i+1 AS int)] || "
            "CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END) AS ls FROM l0), "
            "p AS (SELECT doc_id, array_to_string(ls, chr(10)) || "
            "CASE WHEN doc_id % 17 = 0 THEN chr(10) || "
            "'lorem ipsum dolor sit amet consectetur.' ELSE '' END || "
            "CASE WHEN doc_id % 19 = 0 THEN chr(10) || "
            "'var x = { a: 1 } javascript snippet here.' ELSE '' END "
            "AS page FROM l1), "
            "k AS (SELECT doc_id, page, "
            "len(string_split(page, chr(10))) AS n_lines, "
            "list_filter(string_split(page, chr(10)), "
            "x -> regexp_matches(x, '[.!?\"]$') AND "
            "len(string_split_regex(trim(x), '\\s+')) >= 5 AND "
            "NOT contains(lower(x), 'javascript')) AS kept FROM p) "
            "SELECT doc_id, n_lines, len(kept) AS n_kept_lines, "
            "len(kept) >= 3 AND NOT contains(lower(page), 'lorem ipsum') "
            "AND NOT contains(page, '{') AS keep, "
            "md5(coalesce(array_to_string(kept, chr(10)), '')) "
            "AS clean_md5 FROM k ORDER BY doc_id"
        ),
        "webtext_latest_snapshot": (
            "WITH c AS (SELECT doc_id, n_chars, lang, "
            "unnest(range(0, doc_id % 3 + 1)) AS r FROM documents), "
            "p AS (SELECT 'https://h.example/' || doc_id AS url, "
            "doc_id * 7 % 100000 + r * 3600 AS warc_ts, "
            "n_chars + r AS n_chars, lang FROM c) "
            "SELECT url, count(*) AS n_crawls, max(warc_ts) AS warc_ts, "
            "arg_max(n_chars, warc_ts) AS n_chars, "
            "arg_max(lang, warc_ts) AS lang "
            "FROM p GROUP BY url ORDER BY url"
        ),
        "cvat_document_items": (
            "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 400), "
            "it(item_idx, boxid, label, kind, tpl, l, t, r, b, parent_idx, "
            "n_provs, lvl) AS (VALUES "
            "(0, 0, 'title', 'text', 'Title #', 10.0, 10.0, 100.0, 20.0, "
            "NULL, 1, NULL), "
            "(1, 1, 'text', 'text', 'Body # a Body # b', 10.0, 30.0, "
            "100.0, 40.0, NULL, 2, NULL), "
            "(2, 3, 'picture', 'picture', '', 10.0, 70.0, 100.0, 120.0, "
            "NULL, 1, NULL), "
            "(3, 4, 'caption', 'text', 'Cap #', 10.0, 130.0, 100.0, 140.0, "
            "2, 1, NULL), "
            "(4, -1, 'ordered_list', 'group', '', NULL, NULL, NULL, NULL, "
            "NULL, 1, NULL), "
            "(5, 5, 'list_item', 'list_item', 'L # 0', 10.0, 150.0, 100.0, "
            "160.0, 4, 1, NULL), "
            "(6, 6, 'list_item', 'list_item', 'L # 1', 10.0, 170.0, 100.0, "
            "180.0, 4, 1, NULL), "
            "(7, 7, 'table', 'table', 'Tab #', 10.0, 190.0, 100.0, 240.0, "
            "NULL, 1, NULL), "
            "(8, 8, 'footnote', 'text', 'F #', 10.0, 250.0, 100.0, 260.0, "
            "7, 1, NULL), "
            "(9, 9, 'section_header', 'heading', 'H #', 10.0, 270.0, "
            "100.0, 280.0, NULL, 1, -1)) "
            "SELECT doc_id, cast(item_idx AS int) AS item_idx, "
            "cast(boxid AS int) AS boxid, label, kind, "
            "replace(tpl, '#', cast(doc_id AS varchar)) AS text, "
            "round(l, 6) AS l, round(t, 6) AS t, round(r, 6) AS r, "
            "round(b, 6) AS b, cast(parent_idx AS int) AS parent_idx, "
            "cast(n_provs AS int) AS n_provs, "
            "CASE WHEN lvl = -1 THEN cast(doc_id % 3 + 1 AS int) "
            "ELSE NULL END AS level "
            "FROM d, it ORDER BY doc_id, item_idx"
        ),
        "doclaynet_v2_kv": (
            "WITH d AS (SELECT doc_id, doc_id % 4 + 2 AS n FROM documents "
            "WHERE doc_id < 400), "
            "d2 AS (SELECT doc_id, CASE WHEN (n-1) % 2 = 1 THEN n-1 "
            "ELSE n-2 END AS lastodd FROM d) "
            "SELECT doc_id, cast(c AS int) AS cell_id, "
            "'seg ' || doc_id || ' ' || c AS text, "
            "CASE WHEN c % 2 = 0 THEN 'KEY' ELSE 'VALUE' END AS label, "
            "cast(c AS double) AS l, cast(c + 10 AS double) AS t, "
            "cast(c + 5 AS double) AS r, cast(c + 20 AS double) AS b, "
            "0.0 AS kv_l, 10.0 AS kv_t, cast(lastodd + 5 AS double) AS kv_r, "
            "cast(lastodd + 20 AS double) AS kv_b "
            "FROM d2, unnest(range(0, lastodd + 1)) AS u(c) "
            "ORDER BY doc_id, cell_id"
        ),
        "otsl_table_grid": (
            "WITH d AS (SELECT doc_id, doc_id % 3 AS m FROM documents "
            "WHERE doc_id < 400), "
            "layout(m, row, col, rowspan, colspan) AS (VALUES "
            "(0,0,0,1,2),(0,0,2,1,1),(0,1,0,1,1),(0,1,1,1,1),(0,1,2,1,1),"
            "(0,2,0,1,1),(0,2,1,1,1),(0,2,2,1,1),"
            "(1,0,0,2,1),(1,0,1,1,1),(1,0,2,1,1),(1,1,1,1,1),(1,1,2,1,1),"
            "(1,2,0,1,1),(1,2,1,1,1),(1,2,2,1,1),"
            "(2,0,0,2,2),(2,0,2,1,1),(2,1,2,1,1),(2,2,0,1,1),(2,2,1,1,1),"
            "(2,2,2,1,1)) "
            "SELECT d.doc_id, cast(l.row AS int) AS row, "
            "cast(l.col AS int) AS col, cast(l.rowspan AS int) AS rowspan, "
            "cast(l.colspan AS int) AS colspan, "
            "CASE WHEN l.row = 2 AND l.col = 2 THEN '' "
            "ELSE 't '||d.doc_id||' '||l.row||' '||l.col END AS text, "
            "TRUE AS html_match, 3 AS n_rows, 3 AS n_cols "
            "FROM d JOIN layout l ON l.m = d.m "
            "ORDER BY doc_id, row, col"
        ),
        # robots fixture (see _q_robots_txt_verdicts): k = (doc_id//5)%3
        # selects the robots.txt shape (0 none / 1 star-group rules /
        # 2 exact ccbot Disallow-all), m = doc_id%5 the path; verdicts
        # re-derived closed-form: k=1 disallows m=1 (/private prefix)
        # and m=3 (/p*.html$ wildcard), allows m=2 (longer Allow
        # overrides) and m in (0,4) (no match).
        "robots_txt_verdicts": (
            "WITH d AS (SELECT doc_id, doc_id // 5 AS g, "
            "(doc_id // 5) % 3 AS k, doc_id % 5 AS m "
            "FROM documents WHERE doc_id < 500) "
            "SELECT doc_id, "
            "'h' || cast(g AS varchar) || '.example' AS domain, "
            "CASE WHEN k = 0 THEN TRUE WHEN k = 2 THEN FALSE "
            "WHEN m = 1 OR m = 3 THEN FALSE ELSE TRUE END "
            "AS robots_txt_allowed "
            "FROM d ORDER BY doc_id"
        ),
        # CDXJ fixture (see _q_cdx_fetch_manifest): g = doc_id//2, two
        # captures per url; keep g where status 200 (g%7!=0) and html
        # (g%5!=0); latest capture is doc_id = 2g+1 (ts 2024-02-01);
        # digest groups dg = g//3 keep the min-url winner (ts all equal
        # after the latest collapse, so the struct tie-break is the
        # lexicographic url — same ASCII order in DuckDB and the JVM).
        "cdx_fetch_manifest": (
            "WITH d AS (SELECT DISTINCT doc_id // 2 AS g FROM documents "
            "WHERE doc_id < 500), "
            "kept AS (SELECT g, 'https://h' || cast(g AS varchar) || "
            "'.example/p' || cast(g AS varchar) AS url, g // 3 AS dg, "
            "'w' || cast(g % 4 AS varchar) || '.warc.gz' AS fn, "
            "(2 * g + 1) * 100 AS off, 50 + (2 * g + 1) % 10 AS len "
            "FROM d WHERE g % 7 != 0 AND g % 5 != 0), "
            "winners AS (SELECT dg, min(url) AS url FROM kept GROUP BY dg) "
            "SELECT k.url, TIMESTAMP '2024-02-01 00:00:00' AS capture_ts, "
            "'sha1:' || cast(k.dg AS varchar) AS digest, "
            "k.fn AS warc_filename, cast(k.off AS bigint) AS offset, "
            "cast(k.len AS bigint) AS length "
            "FROM kept k JOIN winners w ON k.dg = w.dg AND k.url = w.url "
            "ORDER BY k.url"
        ),
        # ranged-fetch round-trip: the fetched html must be the
        # doc_id-prefixed source text byte-for-byte (md5), with the
        # build_warc HTTP envelope's status/mime recovered.
        "cdx_ranged_fetch": (
            "SELECT 'https://h' || cast(doc_id AS varchar) || "
            "'.example/p' || cast(doc_id AS varchar) AS url, "
            "200 AS http_status, 'text/html' AS mime, "
            "md5('<d' || cast(doc_id AS varchar) || '>' || text) "
            "AS html_md5 "
            "FROM documents WHERE doc_id < 300 ORDER BY url"
        ),
        # temperature mixing, alpha=0.5: keep rate per lang is
        # sqrt(n_min/n) (division + sqrt + one multiply, all IEEE
        # correctly-rounded -> the floor'd md5 threshold is
        # bit-identical to the Spark sampler's int(rate * 16^8)).
        "temperature_mix_sample": (
            "WITH c AS (SELECT lang, count(*) AS n FROM documents "
            "GROUP BY lang), "
            "m AS (SELECT min(n) AS n_min FROM c), "
            "r AS (SELECT lang, "
            "floor(sqrt(cast(n_min AS double) / n) * 4294967296) AS thr "
            "FROM c, m) "
            "SELECT d.doc_id, d.lang FROM documents d "
            "JOIN r ON d.lang IS NOT DISTINCT FROM r.lang "
            "WHERE ('0x' || substr(md5(cast(d.doc_id AS varchar) "
            "|| ':mix'), 1, 8))::BIGINT < r.thr "
            "ORDER BY d.doc_id"
        ),
        # WET round-trip: conversion records carry the text block raw,
        # so the parsed-back md5 equals md5(text) closed-form.
        "wet_roundtrip": (
            "SELECT 'https://h' || cast(doc_id AS varchar) || "
            "'.example/p' AS url, 'conversion' AS rec_type, "
            "'text/plain' AS mime, md5(text) AS text_md5 "
            "FROM documents WHERE doc_id < 400 ORDER BY url"
        ),
        # SemDeDup: within-precomputed-cluster keep-min at the shared
        # 4-decimal cosine convention; scaled copies always drop.
        "semdedup_keep": (
            "WITH corpus AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL SELECT vec_id + 1000000000, "
            "    list_transform(embedding, x -> x * 2.0) FROM embeddings), "
            "cl AS (SELECT vec_id, embedding, vec_id % 5 AS bucket "
            "FROM corpus), "
            "drops AS (SELECT DISTINCT b.vec_id FROM cl a JOIN cl b "
            "ON a.bucket = b.bucket AND a.vec_id < b.vec_id "
            "WHERE round(list_cosine_similarity(a.embedding, "
            "b.embedding), 4) >= 0.95) "
            "SELECT c.vec_id, cast(c.bucket AS bigint) AS bucket, "
            "d.vec_id IS NULL AS semdedup_keep, FALSE AS cluster_capped "
            "FROM cl c LEFT JOIN drops d ON d.vec_id = c.vec_id "
            "ORDER BY c.vec_id"
        ),
        # C4 badlist gate: replicate the composite page keep (kept-line
        # floor, lorem/brace, badword token overlap) on the fixture.
        "c4_badwords_filter": (
            "WITH p AS (SELECT doc_id, text || '.' || "
            "CASE WHEN doc_id % 7 = 0 THEN chr(10) || "
            "'zzzbad ok line too.' ELSE '' END AS page "
            "FROM documents WHERE doc_id < 500), "
            "k AS (SELECT doc_id, page, "
            "list_filter(string_split(page, chr(10)), "
            "x -> regexp_matches(x, '[.!?\"]$') AND "
            "len(string_split_regex(trim(x), '\\s+')) >= 1 AND "
            "NOT contains(lower(x), 'javascript')) AS kept FROM p) "
            "SELECT doc_id, len(kept) AS n_kept_lines, "
            "len(kept) >= 1 AND NOT contains(lower(page), 'lorem ipsum') "
            "AND NOT contains(page, '{') AND NOT list_has_any("
            "list_transform(string_split_regex(trim(lower(page)), '\\s+'), "
            "w -> regexp_replace(w, '^[\\p{P}\\p{S}]+|[\\p{P}\\p{S}]+$', "
            "'', 'g')), ['zzzbad', 'qqqbad']) AS keep "
            "FROM k ORDER BY doc_id"
        ),
        "png_decode_features": (
            "WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w, "
            "8 + doc_id % 8 AS h FROM documents WHERE doc_id < 500) "
            "SELECT doc_id, cast(w AS int) AS width, cast(h AS int) AS height, "
            "round(list_sum(list_transform(range(0, w), "
            "  x -> floor(255.0 * x / (w - 1)))) / w, 6) AS mean_r, "
            "round(cast((doc_id + 85) % 256 AS double), 6) AS mean_g, "
            "round(cast((doc_id + 170) % 256 AS double), 6) AS mean_b "
            "FROM d ORDER BY doc_id"
        ),
        "pixparse_page_cells": (
            "WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents "
            "WHERE doc_id < 300), "
            "p AS (SELECT doc_id, i AS pg FROM d, unnest(range(0, k)) AS u(i)) "
            "SELECT doc_id, cast(pg + 1 AS int) AS page_no, "
            "cast(j AS int) AS cell_id, "
            "'line ' || doc_id || ' ' || pg || ' ' || j AS text, "
            "round(3.0 + j * 2, 6) AS l, round(5.0 + j * 7, 6) AS t, "
            "round(43.0 + j * 2, 6) AS r, round(11.0 + j * 7, 6) AS b, "
            "round(1.0 - j * 0.01, 6) AS score "
            "FROM p, unnest(range(0, pg + 2)) AS v(j) "
            "ORDER BY doc_id, page_no, cell_id"
        ),
        "docvqa_kv_cells": (
            "WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents "
            "WHERE doc_id < 300), "
            "q AS (SELECT doc_id, i FROM d, unnest(range(0, k)) AS u(i)) "
            "SELECT doc_id, cast(3*i + r AS int) AS cell_id, "
            "cast(i AS int) AS qa_idx, "
            "CASE WHEN r = 0 THEN 'KEY' ELSE 'VALUE' END AS label, "
            "CASE r WHEN 0 THEN 'q ' || doc_id || ' ' || i || '?' "
            "WHEN 1 THEN 'ans ' || doc_id || ' ' || i || ' primary' "
            "ELSE 'alt ' || doc_id || ' ' || i END AS text, "
            "CASE WHEN r = 0 THEN 2 ELSE 1 END AS n_out "
            "FROM q, unnest(range(0, 3)) AS v(r) ORDER BY doc_id, cell_id"
        ),
        "docvqa_anls": (
            "WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents "
            "WHERE doc_id < 300), "
            "q AS (SELECT doc_id, i, (doc_id + i) % 3 AS m, "
            "strlen('ans ' || doc_id || ' ' || i || ' primary') AS L "
            "FROM d, unnest(range(0, k)) AS u(i)) "
            "SELECT doc_id, cast(i AS int) AS qa_idx, "
            "CASE WHEN m = 0 THEN 1.0 "
            "WHEN m = 1 THEN round(1.0 - 1.0/(L + 1), 6) "
            "ELSE 0.0 END AS anls "
            "FROM q ORDER BY doc_id, qa_idx"
        ),
        "doclaynet_layout_spans": (
            "WITH d AS (SELECT doc_id, doc_id % 4 + 2 AS k FROM documents "
            "WHERE doc_id < 300), "
            "e AS (SELECT doc_id, j, (doc_id + j) % 12 AS li "
            "FROM d, unnest(range(0, k)) AS u(j)) "
            "SELECT doc_id, cast(j AS int) AS idx, "
            "CASE li WHEN 0 THEN 'caption' WHEN 1 THEN 'footnote' "
            "WHEN 2 THEN 'formula' WHEN 3 THEN 'list_item' "
            "WHEN 4 THEN 'page_footer' WHEN 5 THEN 'page_header' "
            "WHEN 6 THEN 'picture' WHEN 7 THEN 'section_header' "
            "WHEN 8 THEN 'table' WHEN 9 THEN 'text' WHEN 10 THEN 'title' "
            "ELSE 'text' END AS label, "
            "round(5.0 + j * 2, 6) AS l, round(7.0 + j * 3, 6) AS t, "
            "round(25.0 + j * 2, 6) AS r, round(17.0 + j * 3, 6) AS b, "
            "'seg ' || doc_id || ' ' || j AS text, "
            "cast(strlen('seg ' || doc_id || ' ' || j) AS int) "
            "AS charspan_end "
            "FROM e ORDER BY doc_id, idx"
        ),
        "funsd_kv_labels": (
            "WITH d AS (SELECT doc_id, doc_id % 3 + 3 AS k FROM documents "
            "WHERE doc_id < 300) "
            "SELECT doc_id, cast(j AS int) AS cell_id, "
            "'cell ' || doc_id || ' ' || j AS text, "
            "cast(j * 10 AS double) AS l, 20.0 AS t, "
            "cast(j * 10 + 8 AS double) AS r, 30.0 AS b, "
            "2 AS n_words, "
            "CASE WHEN j = k - 1 THEN 'VALUE' "
            "WHEN j = 0 OR j = k - 2 THEN 'KEY' "
            "ELSE 'UNSPECIFIED' END AS label "
            "FROM d, unnest(range(0, k)) AS u(j) ORDER BY doc_id, cell_id"
        ),
        "layout_class_ap": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n, doc_id % 4 AS m "
            "FROM documents WHERE doc_id % 4 IN (0, 1)), "
            "t AS (SELECT round((floor(100.0 * sum(n - 1 - (CASE WHEN m = 1 "
            "THEN 1 ELSE 0 END)) / sum(n - 1)) + 1) / 101.0, 6) AS v FROM d) "
            "SELECT * FROM (SELECT 'text' AS label, v AS ap, v AS ap_50 FROM t "
            "UNION ALL SELECT 'title', 1.0, 1.0) ORDER BY label"
        ),
        "cvat_roundtrip_spans": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents "
            "WHERE doc_id < 100) "
            "SELECT doc_id, doc_id || '.png' AS image, cast(k AS int) AS idx, "
            "CASE WHEN k = 0 THEN 'title' ELSE 'text' END AS label, "
            "10.0 AS l, cast(2 + 10*k AS double) AS t, 30.0 AS r, "
            "cast(10 + 10*k AS double) AS b "
            "FROM d, unnest(range(0, n)) AS u(k) ORDER BY doc_id, idx"
        ),
        "multi_prov_guard": (
            "SELECT doc_id, cast(doc_id % 3 + 2 AS int) AS n_items "
            "FROM documents WHERE doc_id % 9 != 0 ORDER BY doc_id"
        ),
        "gt_builder_spans": (
            "WITH d AS (SELECT doc_id, doc_id % 4 + 2 AS k FROM documents "
            "WHERE doc_id < 200), "
            "e AS (SELECT doc_id, j AS elem_idx, (doc_id + j) % 12 AS li, "
            "0.05 + j * 0.01 AS x1, 0.1 + j * 0.02 AS y1 "
            "FROM d, unnest(range(0, k)) AS u(j)) "
            "SELECT doc_id, cast(elem_idx AS int) AS elem_idx, "
            "CASE li WHEN 0 THEN 'text' WHEN 1 THEN 'page_header' "
            "WHEN 2 THEN 'page_footer' WHEN 3 THEN 'caption' "
            "WHEN 4 THEN 'footnote' WHEN 5 THEN 'section_header' "
            "WHEN 6 THEN 'list_item' WHEN 7 THEN 'formula' "
            "WHEN 8 THEN 'picture' WHEN 9 THEN 'picture' "
            "WHEN 10 THEN 'table' ELSE 'document_index' END AS label, "
            "round(x1 * 612.0, 6) AS l, round(y1 * 792.0, 6) AS t, "
            "round((x1 + 0.2) * 612.0, 6) AS r, "
            "round((y1 + 0.15) * 792.0, 6) AS b, "
            "CASE WHEN li = 11 THEN 'elem ' || doc_id || chr(10) || 'L' || elem_idx "
            "ELSE 'elem ' || doc_id || ' L' || elem_idx END AS text, "
            "cast(strlen('elem ' || doc_id || ' L' || elem_idx) AS int) "
            "AS charspan_end, "
            "cast(CASE WHEN li IN (10, 11) THEN 2 END AS int) AS n_rows, "
            "cast(CASE WHEN li = 10 THEN 3 WHEN li = 11 THEN 2 END AS int) "
            "AS n_cols "
            "FROM e ORDER BY doc_id, elem_idx"
        ),
        "table_builder_records": (
            "SELECT doc_id, true AS roundtrip_exact, true AS grid_full, "
            "true AS perturbed_teds_lt1 FROM documents "
            "WHERE doc_id % 5 = 0 ORDER BY doc_id"
        ),
        "prediction_files_score": (
            "SELECT doc_id, doc_id % 2 = 0 AS has_prediction, "
            "CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS bleu, "
            "CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS f1_score, "
            "CASE WHEN doc_id % 2 = 0 THEN 0.0 ELSE 1.0 END AS edit_distance "
            "FROM documents WHERE doc_id < 200 ORDER BY doc_id"
        ),
        "doctags_files_spans": (
            "WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents "
            "WHERE doc_id < 50) "
            "SELECT doc_id, cast(k AS int) AS idx, "
            "CASE WHEN k = 0 THEN 'title' ELSE 'text' END AS label, "
            "10 AS l, cast(2 + 10*k AS int) AS t, 30 AS r, "
            "cast(10 + 10*k AS int) AS b, "
            "'block ' || (doc_id % 97) || ' ' || k || ' content words' AS text "
            "FROM d, unnest(range(0, n)) AS u(k) ORDER BY doc_id, idx"
        ),
        "ocr_cer": (
            "SELECT doc_id, cast(doc_id % 3 AS int) AS mode, "
            "CASE WHEN doc_id % 3 = 0 OR length(text) = 0 THEN 0.0 "
            "ELSE round(1.0/length(text), 6) END AS cer, "
            "CASE WHEN doc_id % 3 = 0 OR length(text) = 0 THEN 1.0 "
            "ELSE round(1 - 1.0/length(text), 6) END AS char_accuracy "
            "FROM documents"
        ),
        "doc_stats": (
            "SELECT count(n_chars) AS total, round(avg(n_chars), 6) AS mean, "
            "round(cast(median(n_chars) AS double), 6) AS median, "
            "round(stddev_samp(n_chars), 6) AS std FROM documents"
        ),
        "doc_len_histogram": (
            "SELECT least(cast(floor(n_chars / 600.0 * 20) AS int), 19) AS bucket, "
            "count(*) AS n FROM documents "
            "WHERE n_chars >= 0 AND n_chars <= 600 GROUP BY 1 ORDER BY 1"
        ),
        "lang_distribution": (
            "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang"
        ),
        "dedup_exact": (
            "SELECT count(*) AS n_docs, "
            "count(DISTINCT md5(text)) + count(*) - count(text) AS n_unique, "
            "count(text) - count(DISTINCT md5(text)) AS n_dupes FROM documents"
        ),
        "minhash_near_dup": (
            "WITH corpus AS ("
            "  SELECT doc_id, text FROM documents"
            "  UNION ALL SELECT doc_id + 1000000000, text || ' xdup' "
            "    FROM documents WHERE doc_id % 3 = 0"
            "  UNION ALL SELECT doc_id + 2000000000, text "
            "    FROM documents WHERE doc_id % 7 = 0"
            "), sh AS ("
            "  SELECT doc_id, CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 "
            "  THEN [text] ELSE list_distinct(list_transform("
            "    range(1, len(string_split_regex(trim(text), '\\s+')) - 1), "
            "    i -> string_split_regex(trim(text), '\\s+')[i] || ' ' || "
            "         string_split_regex(trim(text), '\\s+')[i+1] || ' ' || "
            "         string_split_regex(trim(text), '\\s+')[i+2])) END AS grams "
            "  FROM corpus) "
            "SELECT a.doc_id AS a, b.doc_id AS b, "
            "round(len(list_intersect(a.grams, b.grams)) * 1.0 "
            "  / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard "
            "FROM sh a, sh b WHERE a.doc_id < b.doc_id "
            "AND len(list_intersect(a.grams, b.grams)) * 1.0 "
            "  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8 "
            "ORDER BY a, b"
        ),
        "near_dedup_kept": (
            "WITH corpus AS ("
            "  SELECT doc_id, text FROM documents"
            "  UNION ALL SELECT doc_id + 1000000000, text || ' xdup' "
            "    FROM documents WHERE doc_id % 3 = 0"
            "  UNION ALL SELECT doc_id + 2000000000, text "
            "    FROM documents WHERE doc_id % 7 = 0"
            "), reps AS ("
            "  SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text"
            "), sh AS ("
            "  SELECT doc_id, CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 "
            "  THEN [text] ELSE list_distinct(list_transform("
            "    range(1, len(string_split_regex(trim(text), '\\s+')) - 1), "
            "    i -> string_split_regex(trim(text), '\\s+')[i] || ' ' || "
            "         string_split_regex(trim(text), '\\s+')[i+1] || ' ' || "
            "         string_split_regex(trim(text), '\\s+')[i+2])) END AS grams "
            "  FROM reps"
            "), drops AS ("
            "  SELECT b.doc_id AS doc_id FROM sh a, sh b "
            "  WHERE a.doc_id < b.doc_id "
            "  AND len(list_intersect(a.grams, b.grams)) * 1.0 "
            "    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8) "
            "SELECT doc_id FROM reps "
            "WHERE doc_id NOT IN (SELECT doc_id FROM drops) ORDER BY doc_id"
        ),
        "embedding_near_dup": (
            "WITH corpus AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL SELECT vec_id + 1000000000, "
            "    list_transform(embedding, x -> x * 2.0) FROM embeddings) "
            "SELECT a.vec_id AS a, b.vec_id AS b, "
            "round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine "
            "FROM corpus a, corpus b WHERE a.vec_id < b.vec_id "
            "AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.9999 "
            "ORDER BY a, b"
        ),
        "multimodal_meta": (
            "SELECT lang, count(*) AS n_docs, "
            "cast(sum(strlen(text) + 4) AS bigint) AS total_bytes, "
            "count(DISTINCT text) AS n_unique, 'image/png' AS mime "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "gopher_repetition_full": _gopher_repetition_oracle(),
        "robots_meta_flags": (
            "SELECT doc_id, "
            "doc_id % 6 IN (0, 1, 5) AS robots_noindex, "
            "doc_id % 6 IN (0, 1, 4) AS robots_nofollow, "
            "doc_id % 6 NOT IN (0, 1, 5) AS robots_keep "
            "FROM documents ORDER BY doc_id"
        ),
        "perplexity_by_lang": (
            "WITH toks AS (SELECT doc_id, lang, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS tok "
            "FROM documents), "
            "freq AS (SELECT lang, tok, count(*) AS cnt "
            "FROM toks GROUP BY lang, tok), "
            "tot AS (SELECT lang, cast(sum(cnt) AS bigint) AS total "
            "FROM freq GROUP BY lang), "
            "s AS (SELECT doc_id, t.lang AS lang, "
            "round(avg(-ln(cnt / cast(total AS double))), 6) "
            "AS unigram_nll FROM toks t "
            "JOIN freq f ON t.lang = f.lang AND t.tok = f.tok "
            "JOIN tot ON t.lang = tot.lang "
            "GROUP BY doc_id, t.lang), "
            "r AS (SELECT doc_id, lang, unigram_nll, "
            "row_number() OVER (PARTITION BY lang "
            "ORDER BY unigram_nll, doc_id) - 1 AS rk, "
            "count(*) OVER (PARTITION BY lang) AS n FROM s) "
            "SELECT doc_id, lang, unigram_nll, "
            "cast(rk AS bigint) AS ppl_rank, "
            "['head', 'middle', 'tail']"
            "[cast(least(rk * 3 // n, 2) AS int) + 1] AS ppl_bucket "
            "FROM r ORDER BY doc_id"
        ),
        "perplexity_buckets": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(trim(text), '\\s+')) AS tok "
            "FROM documents), "
            "freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), "
            "tot AS (SELECT cast(sum(cnt) AS bigint) AS total FROM freq), "
            "s AS (SELECT doc_id, "
            "round(avg(-ln(cnt / cast(total AS double))), 6) "
            "AS unigram_nll FROM toks JOIN freq USING (tok) "
            "CROSS JOIN tot GROUP BY doc_id), "
            "r AS (SELECT doc_id, unigram_nll, "
            "row_number() OVER (ORDER BY unigram_nll, doc_id) - 1 AS rk, "
            "count(*) OVER () AS n FROM s) "
            "SELECT doc_id, unigram_nll, cast(rk AS bigint) AS ppl_rank, "
            "['head', 'middle', 'tail']"
            "[cast(least(rk * 3 // n, 2) AS int) + 1] AS ppl_bucket "
            "FROM r ORDER BY doc_id"
        ),
        "url_dedup_canonical": (
            "WITH p AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m "
            "FROM documents), "
            "n AS (SELECT doc_id, CASE "
            "WHEN m IN (0, 1) THEN 'https://h' || g || '.example/p' || g "
            "|| '?b=2&x=1' "
            "WHEN m = 2 THEN 'http://h' || g || '.example/p' || g "
            "|| '/other' "
            "ELSE 'https://h' || g || '.example/p' || g END AS url_norm "
            "FROM p), "
            "w AS (SELECT url_norm, min(doc_id) AS win, "
            "count(*) AS n_same_url FROM n GROUP BY url_norm) "
            "SELECT n.doc_id, n.url_norm, w.n_same_url, "
            "n.doc_id = w.win AS url_keep_first "
            "FROM n JOIN w USING (url_norm) ORDER BY n.doc_id"
        ),
        "warc_roundtrip": (
            "SELECT doc_id, doc_id * 60 AS ts_epoch, "
            "md5(text) AS body_md5, "
            "cast(strlen(text) AS bigint) AS n_bytes "
            "FROM documents ORDER BY doc_id"
        ),
        "payload_mime_counts": (
            "WITH p AS (SELECT CASE WHEN doc_id % 7 = 0 THEN 'image/jpeg' "
            "WHEN doc_id % 7 = 1 THEN 'application/octet-stream' "
            "ELSE 'image/png' END AS mime FROM documents) "
            "SELECT mime, count(*) AS n_payloads FROM p GROUP BY mime "
            "ORDER BY mime"
        ),
        "quality_filter": (
            "WITH f AS (SELECT lang, "
            "len(string_split(text, ' ')) AS n_words, "
            "length(replace(text, ' ', '')) * 1.0 "
            "  / len(string_split(text, ' ')) AS mwl, "
            f"len(list_filter(string_split(text, ' '), w -> w IN ({stop_list}))) "
            "  * 1.0 / len(string_split(text, ' ')) AS swr "
            "FROM documents) "
            "SELECT lang, count(*) AS n_docs, "
            "cast(sum(CASE WHEN n_words >= 10 AND mwl >= 3.0 AND mwl <= 12.0 "
            "AND swr >= 0.01 THEN 1 ELSE 0 END) AS bigint) AS n_kept, "
            "round(avg(CASE WHEN n_words >= 10 AND mwl >= 3.0 AND mwl <= 12.0 "
            "AND swr >= 0.01 THEN 1.0 ELSE 0.0 END), 6) AS keep_rate "
            "FROM f GROUP BY lang ORDER BY lang"
        ),
        "token_counts": (
            "SELECT lang, cast(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS bigint) AS total_tokens, "
            "round(avg(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END), 6) AS avg_tokens "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "quality_scores": (
            f"SELECT source, "
            f"round(avg(len(list_filter(string_split(text, ' '), w -> w IN ({stop_list}))) "
            f"  * 1.0 / len(string_split(text, ' '))), 6) AS avg_stopword_ratio, "
            f"round(avg(length(replace(text, ' ', '')) "
            f"  * 1.0 / len(string_split(text, ' '))), 6) AS avg_word_len "
            f"FROM documents GROUP BY source ORDER BY source"
        ),
        "rejection_summary": (
            "SELECT CASE WHEN doc_id % 11 = 0 THEN 'invalid_conversion_status' "
            "WHEN doc_id % 13 = 0 THEN 'missing_prediction' "
            "ELSE 'accepted' END AS reason, count(*) AS n "
            "FROM documents GROUP BY 1 ORDER BY 1"
        ),
        "timings_rollup": (
            "WITH s AS (SELECT * FROM (VALUES ('tokenize', 1), ('classify', 2), "
            "('assemble', 3)) AS t(stage, k)), "
            "x AS (SELECT stage, 1.5 * ((doc_id * k) % 100) / 100.0 AS tot "
            "FROM documents, s) "
            "SELECT stage, count(*) AS n_docs, round(sum(tot), 6) AS total_sec, "
            "round(avg(tot), 6) AS mean_sec FROM x GROUP BY stage ORDER BY stage"
        ),
        "timings_stats": (
            "WITH s AS (SELECT * FROM (VALUES ('tokenize', 1), ('classify', 2), "
            "('assemble', 3)) AS t(stage, k)), "
            "x AS (SELECT stage, 1.5 * ((doc_id * k) % 100) / 100.0 AS tot "
            "FROM documents, s) "
            "SELECT stage, count(*) AS total, round(avg(tot), 6) AS mean_sec, "
            "round(median(tot), 6) AS median_sec, "
            "round(coalesce(stddev_samp(tot), 0.0), 6) AS std_sec "
            "FROM x GROUP BY stage ORDER BY stage"
        ),
        "timings_histogram": (
            "WITH s AS (SELECT * FROM (VALUES ('tokenize', 1), ('classify', 2), "
            "('assemble', 3)) AS t(stage, k)), "
            "x AS (SELECT stage, 1.5 * ((doc_id * k) % 100) / 100.0 AS tot "
            "FROM documents, s), "
            "m AS (SELECT stage, max(tot) AS mx FROM x GROUP BY stage), "
            "h AS (SELECT x.stage, least(cast(floor(tot / mx * 20) AS int), 19) "
            "AS bucket, count(*) AS n "
            "FROM x JOIN m ON x.stage = m.stage GROUP BY 1, 2) "
            "SELECT g.stage, g.bucket, cast(coalesce(h.n, 0) AS bigint) AS n "
            "FROM (SELECT stage, cast(b AS int) AS bucket "
            "FROM (SELECT DISTINCT stage FROM x), unnest(range(0, 20)) AS u(b)) g "
            "LEFT JOIN h ON g.stage = h.stage AND g.bucket = h.bucket "
            "ORDER BY g.stage, g.bucket"
        ),
        "consolidation_pivot": (
            "SELECT source, "
            "cast(count(CASE WHEN lang = 'de' THEN 1 END) AS bigint) AS de, "
            "cast(count(CASE WHEN lang = 'en' THEN 1 END) AS bigint) AS en, "
            "cast(count(CASE WHEN lang = 'es' THEN 1 END) AS bigint) AS es, "
            "cast(count(CASE WHEN lang = 'fr' THEN 1 END) AS bigint) AS fr, "
            "cast(count(CASE WHEN lang = 'zh' THEN 1 END) AS bigint) AS zh "
            "FROM documents GROUP BY source ORDER BY source"
        ),
        "kv_graph_labels": (
            "WITH d AS (SELECT doc_id, cast(doc_id % 3 + 3 AS int) AS n "
            "FROM documents) "
            "SELECT doc_id, cast(cell_id AS int) AS cell_id, "
            "CASE WHEN cell_id = n - 1 THEN 'VALUE' "
            "WHEN cell_id = 0 OR cell_id = n - 2 THEN 'KEY' "
            "ELSE 'UNSPECIFIED' END AS label "
            "FROM d, unnest(range(0, n)) AS u(cell_id) "
            "ORDER BY doc_id, cell_id"
        ),
        "range_slice": (
            "SELECT doc_id, lang FROM documents ORDER BY doc_id "
            "LIMIT 20 OFFSET 100"
        ),
        "cumulative_histogram": (
            "WITH h AS (SELECT least(cast(floor(n_chars / 600.0 * 20) AS int), 19) AS bucket, "
            "count(*) AS n FROM documents GROUP BY 1) "
            "SELECT bucket, n, cast(sum(n) OVER (ORDER BY bucket "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cum_n "
            "FROM h ORDER BY bucket"
        ),
        "embedding_topk": (
            "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, "
            "round(list_cosine_similarity(q.embedding, n.embedding), 4) AS cosine "
            "FROM embeddings q, embeddings n "
            "WHERE q.vec_id < 3 AND n.vec_id != q.vec_id "
            "QUALIFY row_number() OVER (PARTITION BY q.vec_id "
            "  ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC, n.vec_id) <= 3 "
            "ORDER BY query_id, cosine DESC, neighbor_id"
        ),
        "embedding_ivf_topk": (
            "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, "
            "round(list_cosine_similarity(q.embedding, n.embedding), 4) AS cosine "
            "FROM embeddings q, embeddings n "
            "WHERE q.vec_id < 3 AND n.vec_id != q.vec_id "
            "QUALIFY row_number() OVER (PARTITION BY q.vec_id "
            "  ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC, n.vec_id) <= 3 "
            "ORDER BY query_id, cosine DESC, neighbor_id"
        ),
    }
