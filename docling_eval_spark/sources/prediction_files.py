"""Prediction-file adapters: a directory of per-document prediction files
-> prediction rows paired with GT by doc_id.

Rebuild of the reference's evaluator adapters (docling_eval/evaluators/
adapters.py:12-33 TextFilesAdapter, :36-66 DocTagsFilesToDoclingDocument-
Adapter) and the file prediction provider surface
(prediction_providers/file_provider.py:107-145): filename stem = doc_id,
file content = the prediction. The reference globs into a driver-side
dict; here the directory IS a distributed source (`binaryFile`), so a
million prediction files read in parallel (path pushdown on the glob),
and GT pairing is a keyed join — broadcast when the prediction side is
small, shuffle-on-key at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.doctags import parse_doctags
from ..functions.text_metrics import score_text_pair
from ..session import row_stage
from .binary_files import read_binary_files

DOCTAGS_SPAN_SCHEMA = (
    "doc_id string, idx int, label string, l int, t int, r int, b int, "
    "text string"
)


def read_prediction_files(spark: SparkSession, input_path: str,
                          extension: str = "md") -> DataFrame:
    """(doc_id, pred_text) from `<doc_id>.<extension>` files — the
    TextFilesAdapter contract (adapters.py:22-32), distributed."""
    df = read_binary_files(spark, input_path, glob=f"*.{extension}")
    stem = F.regexp_extract(F.col("path"), r"([^/]+)\.[A-Za-z0-9]+$", 1)
    return df.select(
        stem.alias("doc_id"),
        F.decode(F.col("content"), "utf-8").alias("pred_text"),
    )


def _doctags_spans(doc_id, s):
    for i, sp in enumerate(parse_doctags(s)):
        yield doc_id, i, sp.label, sp.l, sp.t, sp.r, sp.b, sp.text


def read_doctags_prediction_spans(spark: SparkSession,
                                  input_path: str) -> DataFrame:
    """(doc_id, idx, label, l, t, r, b, text) parsed from `*.dt` files —
    the DocTagsFiles adapter (adapters.py:36-66) emitting the engine's
    flat span rows instead of a driver-side document object. Parsing runs
    in one Arrow-batched stage over the distributed file read."""
    preds = read_prediction_files(spark, input_path, "dt")
    return row_stage(preds, _doctags_spans, DOCTAGS_SPAN_SCHEMA)


def pair_with_gt(gt: DataFrame, preds: DataFrame, key: str = "doc_id",
                 how: str = "left") -> DataFrame:
    """Pair GT rows with prediction rows by key. `how='left'` keeps GT
    rows with no prediction (null pred columns) so the caller can apply
    the reference's log-and-skip policy (ocr_evaluator.py:100-102) or
    count them as missing-prediction rejections (P3)."""
    return gt.join(preds, on=key, how=how)


SCORED_FILES_SCHEMA = (
    "doc_id string, has_prediction boolean, bleu double, f1_score double, "
    "precision double, recall double, edit_distance double, meteor double"
)


def _file_scores(doc_id, gt_text, pred_text):
    if pred_text is None:
        yield doc_id, False, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0
        return
    m = score_text_pair(pred_text, gt_text)
    yield (doc_id, True, m["bleu"], m["f1_score"], m["precision"],
           m["recall"], m["edit_distance"], m["meteor"])


def score_prediction_files(spark: SparkSession, gt: DataFrame,
                           pred_dir: str, extension: str = "md",
                           key: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """End-to-end 'score predictions someone hands you': read a directory
    of `<doc_id>.<extension>` files, pair with GT rows by doc_id, compute
    the markdown text-metric suite per doc (missing predictions score
    worst-case, like the reference's rejection accounting)."""
    preds = read_prediction_files(spark, pred_dir, extension)
    paired = pair_with_gt(
        gt.select(F.col(key).cast("string").alias("doc_id"),
                  F.col(text_col).alias("gt_text")),
        preds, key="doc_id", how="left")
    return row_stage(paired, _file_scores, SCORED_FILES_SCHEMA)
