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

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_metrics import cer
from ..session import row_stage
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


def _cer(doc_id, text):
    m = doc_id % 3
    c = cer(degrade(text, m), text)
    yield doc_id, m, c, 1.0 - min(1.0, c)


def ocr_scores(spark: SparkSession, sf_dir: str,
               n_partitions: int = 16) -> DataFrame:
    docs = read_documents(spark, sf_dir, ["doc_id", "text"], n_partitions)
    return row_stage(docs, _cer, OCR_SCHEMA)


# -- page-granular OCR (reference ocr_evaluator.py:150-162) -------------------
#
# The reference's OCR data model is Dict[int, SegmentedPage] iterated at
# line (cell) granularity; `segmented_docs` exposes it as the column
# map<int, array<struct<cell_id:int, text:string>>>. Pages are 25-token
# windows (multi-page by construction even for short docs), degraded per
# page, so the per-page CER is exactly 0 or 1/len(page_text).
# `segment_pages` is the one copy of that rule.

PAGE_OCR_SCHEMA = "doc_id bigint, page_no int, mode int, cer double, char_accuracy double"
_PAGES = "map<int,array<struct<cell_id:int,text:string>>>"

TOKENS_PER_PAGE = 25
# Java's \s, ASCII whitespace only: NBSP and U+2003 stay inside a token
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def segment_pages(doc_id: int, text: str | None):
    """Yield (page_no, mode, gt_cells, pred_cells) for each page of one
    document, page_no from 1. Cells are single-space joins of 8 tokens,
    so joining a page's cells with one space gives its text. mode =
    (doc_id + page_no) % 3, signed as the JVM takes it: mode 1 drops the
    first char of the FIRST cell, mode 2 appends 'X' to the LAST cell.
    A null or empty text has no pages."""
    toks = [t for t in _WS.split(text) if t] if text else []
    for page_no, k in enumerate(range(0, len(toks), TOKENS_PER_PAGE), 1):
        page = toks[k:k + TOKENS_PER_PAGE]
        gt = [" ".join(page[j:j + 8]) for j in range(0, len(page), 8)]
        n = doc_id + page_no
        mode = n % 3 if n >= 0 else -(-n % 3)
        pred = list(gt)
        if mode == 1:
            pred[0] = pred[0][1:]
        elif mode == 2:
            pred[-1] += "X"
        yield page_no, mode, gt, pred


def _segments(doc_id, text):
    # a null text has null maps, as the native split gave it
    gt, pred = (None, None) if text is None else ({}, {})
    for page_no, _, gt_cells, pred_cells in segment_pages(doc_id, text):
        gt[page_no] = list(enumerate(gt_cells))  # (cell_id, text)
        pred[page_no] = list(enumerate(pred_cells))
    yield doc_id, gt, pred


def segmented_docs(spark: SparkSession, sf_dir: str,
                   n_partitions: int = 16) -> DataFrame:
    """(doc_id, gt_pages, pred_pages) with the map<int, array<struct>>
    segmented-page model, built by `segment_pages` in one Python stage."""
    docs = read_documents(spark, sf_dir, ["doc_id", "text"], n_partitions)
    return row_stage(docs, _segments,
                     f"doc_id bigint, gt_pages {_PAGES}, pred_pages {_PAGES}")


def _page_cer(doc_id, text):
    for page_no, mode, gt_cells, pred_cells in segment_pages(doc_id, text):
        gt, pred = " ".join(gt_cells), " ".join(pred_cells)
        if gt and pred:
            # equality fast path: identical page text needs no DP
            c = 0.0 if pred == gt else cer(pred, gt)
            acc = 1.0 - min(1.0, c)
        else:
            # reference ocr_evaluator.py:109-113: missing text on either
            # side = max error / zero accuracy
            c, acc = 1.0, 0.0
        yield doc_id, page_no, mode, c, acc


def page_ocr_scores(spark: SparkSession, sf_dir: str,
                    n_partitions: int = 16) -> DataFrame:
    """Per-page CER over line-granular segmented pages: each document is
    tokenized once, and its pages are segmented, degraded and scored in
    the same Python stage (Arrow-batched), one row per (doc_id, page_no).
    GT and prediction are built side by side, so nothing joins."""
    docs = read_documents(spark, sf_dir, ["doc_id", "text"], n_partitions)
    return row_stage(docs, _page_cer, PAGE_OCR_SCHEMA)


def ocr_rollup(scores: DataFrame) -> DataFrame:
    """Mean char accuracy (reference ocr_evaluator.py:134-136)."""
    return scores.agg(
        F.count("*").alias("total"),
        F.round(F.avg("char_accuracy"), 6).alias("mean_char_accuracy"),
        F.round(F.avg("cer"), 6).alias("mean_cer"),
    )
