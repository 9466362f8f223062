"""Reading-order pipeline: geometric order prediction + ARD metrics.

Rebuild of the reference ReadingOrderEvaluator (docling_eval/evaluators/
readingorder_evaluator.py:156-271): the reference shuffles each doc's
items (:207), runs a rule-based ReadingOrderPredictor (:208-210), and
scores the recovered permutation with ARD / weighted ARD (:229-271).

Here the predictor is the from-scratch column-aware geometric sort
(functions/reading_order.predict_reading_order) applied to the PREDICTED
boxes of the synthetic layout corpus; true ranks are GT document order.
The deterministic shuffle before prediction reproduces the reference's
robustness check: a correct geometric rule must recover the order from
coordinates alone, independent of input sequence.

Everything is per-doc-parallel inside one Arrow-batched stage; the rollup
is a native aggregation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus.layout_synth import mode, n_boxes, pred_page
from ..functions.reading_order import ard_norm, predict_reading_order
from ..session import row_stage
from ..sources.tables import read_documents

ARD_SCHEMA = "doc_id bigint, n_boxes int, mode int, ard_norm double, w_ard_norm double"


def _ard(d):
    boxes, _, _ = pred_page(d)
    n = len(boxes)
    # deterministic shuffle (reference :207) — the rule must recover
    # reading order from geometry, not from input sequence
    perm = np.random.RandomState(d % (2**31)).permutation(n)
    order = predict_reading_order(boxes[perm])
    # item at shuffled position order[j] has predicted rank j; map back
    # to original item ids, then to ranks per item
    pred_rank = np.empty(n, dtype=np.int64)
    pred_rank[perm[order]] = np.arange(n)
    areas = (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1])
    yield (d, n_boxes(d), mode(d), *ard_norm(pred_rank, areas))


def reading_order_scores(spark: SparkSession, sf_dir: str,
                         n_partitions: int = 16) -> DataFrame:
    docs = read_documents(spark, sf_dir, ["doc_id"], n_partitions)
    return row_stage(docs, _ard, ARD_SCHEMA)


def reading_order_rollup(scores: DataFrame) -> DataFrame:
    """DatasetStatistics-style rollup (reference stats.py:77-97 analog)."""
    return scores.agg(
        F.count("*").alias("total"),
        F.round(F.avg("ard_norm"), 6).alias("ard_mean"),
        F.round(F.avg("w_ard_norm"), 6).alias("w_ard_mean"),
        F.round(F.stddev_samp("ard_norm"), 6).alias("ard_std"),
    )
