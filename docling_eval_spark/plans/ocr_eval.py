"""OCR pipeline: character error rate over deterministically degraded text.

Rebuild of the reference OCREvaluator (docling_eval/evaluators/
ocr_evaluator.py): per-record CER via jiwer (:60,145-148) with
char_accuracy = 1 - min(1, cer) (:109-113) and a plain-mean rollup
(:134-136). Our CER is the from-scratch Levenshtein kernel
(functions/text_metrics.cer) run in one Arrow-batched stage.

The synthetic degradation is doc_id-determined so the oracle is exact SQL:
    mode = doc_id % 3:  0 -> identity          (cer 0)
                        1 -> drop first char   (one deletion,  cer 1/len)
                        2 -> append 'X'        (one insertion, cer 1/len)
CER denominator is the TRUE text length (jiwer semantics).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_documents

OCR_SCHEMA = "doc_id bigint, mode int, cer double, char_accuracy double"


def degrade(text: str, mode: int) -> str:
    if not text:
        return text  # empty truth stays empty: cer 0 (oracle contract)
    if mode == 1:
        return text[1:]
    if mode == 2:
        return text + "X"
    return text


def _cer_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..functions.text_metrics import cer

    for pdf in it:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(doc_id)
            m = d % 3
            pred = degrade(text, m)
            c = cer(pred, text)
            rows.append((d, m, c, 1.0 - min(1.0, c)))
        yield pd.DataFrame(rows, columns=["doc_id", "mode", "cer", "char_accuracy"])


def ocr_scores(spark: SparkSession, sf_dir: str,
               n_partitions: int = 16) -> DataFrame:
    docs = read_documents(spark, sf_dir, ["doc_id", "text"], n_partitions)
    return docs.mapInPandas(_cer_batches, schema=OCR_SCHEMA)


# -- page-granular OCR (reference ocr_evaluator.py:150-162) -------------------
#
# The reference's OCR data model is Dict[int, SegmentedPage] iterated at
# line (cell) granularity. Here that is a real Spark column:
#     map<int, array<struct<cell_id:int, text:string>>>
# built entirely with native higher-order functions (split / transform /
# slice / map_from_entries) — no Python rows. Page i = the i-th 25-token
# window of the document text (multi-page by construction even for short
# docs); cells = 8-token line chunks within the page; the prediction is a
# per-page deterministic degradation (mode = (doc_id + page_no) % 3:
# identity / drop first char of first line / append 'X' to last line), so
# the per-page CER has an exact closed form: 0 or 1/len(page_text).

PAGE_OCR_SCHEMA = "doc_id bigint, page_no int, mode int, cer double, char_accuracy double"

TOKENS_PER_PAGE = 25


def _lines_expr(page_toks):
    """array<struct<cell_id:int, text:string>>: 8-token line cells of one
    page. Reconstruction contract: joining cell texts with a single space
    yields ' '.join(page tokens) exactly."""
    chunks = (
        F.when(F.size(page_toks) == F.lit(0),
               F.array().cast("array<string>"))
        .otherwise(F.transform(
            F.sequence(F.lit(0), ((F.size(page_toks) - F.lit(1)) / F.lit(8)).cast("int")),
            lambda j: F.array_join(F.slice(page_toks, j * F.lit(8) + F.lit(1), 8), " "),
        ))
    )
    return F.transform(
        chunks,
        lambda c, i: F.struct(i.cast("int").alias("cell_id"), c.alias("text")),
    )


def _degrade_cells(cells, mode):
    """Per-page line-granular degradation: mode 1 drops the first char of
    the FIRST line, mode 2 appends 'X' to the LAST line — one edit per
    page, at a line boundary, so the pairing stays line-aligned."""
    n = F.size(cells)
    return F.transform(
        cells,
        lambda c, i: F.struct(
            c["cell_id"].alias("cell_id"),
            F.when((mode == F.lit(1)) & (i == F.lit(0)),
                   c["text"].substr(F.lit(2), F.length(c["text"])))
            .when((mode == F.lit(2)) & (i == n - F.lit(1)),
                  F.concat(c["text"], F.lit("X")))
            .otherwise(c["text"]).alias("text"),
        ),
    )


def segmented_docs(spark: SparkSession, sf_dir: str,
                   n_partitions: int = 16) -> DataFrame:
    """(doc_id, gt_pages, pred_pages) with the map<int, array<struct>>
    segmented-page model — built natively, zero Python on this path."""
    docs = read_documents(spark, sf_dir, ["doc_id", "text"], n_partitions)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    n_pages = F.ceil(F.size(toks) / F.lit(TOKENS_PER_PAGE)).cast("int")
    pages_map = F.when(n_pages == F.lit(0), F.map_from_entries(
        F.array().cast("array<struct<page_no:int,cells:array<struct<cell_id:int,text:string>>>>"))
    ).otherwise(F.map_from_entries(F.transform(
        F.sequence(F.lit(1), n_pages),
        lambda i: F.struct(
            i.cast("int").alias("page_no"),
            _lines_expr(F.slice(toks, (i - F.lit(1)) * F.lit(TOKENS_PER_PAGE) + F.lit(1),
                                TOKENS_PER_PAGE)).alias("cells"),
        ),
    )))
    gt = docs.select("doc_id", pages_map.alias("gt_pages"))
    return gt.select(
        "doc_id", "gt_pages",
        F.map_from_entries(F.transform(
            F.map_entries("gt_pages"),
            lambda e: F.struct(
                e["key"].alias("page_no"),
                _degrade_cells(
                    e["value"], (F.col("doc_id") + e["key"]) % 3).alias("cells"),
            ),
        )).alias("pred_pages"),
    )


def _page_cer_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..functions.text_metrics import cer

    for pdf in it:
        rows = []
        for doc_id, page_no, mode, gt, pred in zip(
                pdf["doc_id"], pdf["page_no"], pdf["mode"],
                pdf["gt_text"], pdf["pred_text"]):
            if gt and pred:
                # equality fast path: identical page text needs no DP
                c = 0.0 if pred == gt else cer(pred, gt)
                acc = 1.0 - min(1.0, c)
            else:
                # reference ocr_evaluator.py:109-113: missing text on
                # either side = max error / zero accuracy
                c, acc = 1.0, 0.0
            rows.append((int(doc_id), int(page_no), int(mode), c, acc))
        yield pd.DataFrame(rows, columns=[
            "doc_id", "page_no", "mode", "cer", "char_accuracy"])


def page_ocr_scores(spark: SparkSession, sf_dir: str,
                    n_partitions: int = 16) -> DataFrame:
    """Per-page CER over line-granular segmented pages: GT and prediction
    pairs are CO-LOCATED columns of one row (no join); the map explodes
    to (doc_id, page_no) rows; only the Levenshtein kernel runs in
    Python (Arrow-batched)."""
    seg = segmented_docs(spark, sf_dir, n_partitions)
    pages = (
        seg.select("doc_id", "pred_pages",
                   F.explode("gt_pages").alias("page_no", "gt_cells"))
        .select(
            "doc_id", "page_no",
            F.array_join(F.transform("gt_cells", lambda c: c["text"]), " ")
            .alias("gt_text"),
            F.array_join(
                F.transform(F.element_at("pred_pages", F.col("page_no")),
                            lambda c: c["text"]), " ").alias("pred_text"),
            ((F.col("doc_id") + F.col("page_no")) % 3).cast("int").alias("mode"),
        )
    )
    return pages.mapInPandas(_page_cer_batches, schema=PAGE_OCR_SCHEMA)


def ocr_rollup(scores: DataFrame) -> DataFrame:
    """Mean char accuracy (reference ocr_evaluator.py:134-136)."""
    return scores.agg(
        F.count("*").alias("total"),
        F.round(F.avg("char_accuracy"), 6).alias("mean_char_accuracy"),
        F.round(F.avg("cer"), 6).alias("mean_cer"),
    )
