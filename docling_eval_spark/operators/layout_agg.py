"""Distributed corpus-level mAP: distributed partial aggregate + driver
final over <= C x T x n_bins bins.

The reference computes corpus mAP by feeding EVERY page into one
torchmetrics MeanAveragePrecision instance and calling .compute() on the
driver (docling_eval/evaluators/layout_evaluator.py:246-266) — a holistic
aggregate that cannot scale past one node. The COCO AP final step needs
detections sorted by score per class; a naive distributed version would
global-sort billions of detection rows.

This implementation bounds what reaches the driver instead:

  partial (embarrassingly parallel, inside the per-page UDF):
      detection rows (label, score, tp[T]) via COCO greedy matching
      (functions/layout_metrics.match_detections) + per-page gt rows
      (label, n_gt), in ONE frame.

  distributed partial aggregate (one groupBy, one consumer of the
  partials): scores are quantized to `n_bins` buckets; detection rows
      explode their tp array, gt rows pass through as (label, null, null)
      keys, and one groupBy (label, thr_idx, bin) reduces the stream to at
      most C x T x n_bins bin rows plus one n_gt row per class (class
      count x 10 x 10001 — a few hundred thousand rows REGARDLESS of
      corpus size).

  driver final: the bins are collected through Arrow and each class's
      binned PR curve is walked into a 101-point interpolated AP; the
      summary comes back as a literal one-row frame (no Python task).

  Exactness: binned AP equals exact AP whenever equal-score detections
  are interchangeable (they are: COCO ties are implementation-defined;
  binning makes tie handling deterministic and order-independent, which
  exact per-score sorting under distribution is NOT).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import literal_frame

N_THRESHOLDS = 10  # IoU .5:.05:.95 (functions/layout_metrics.IOU_THRESHOLDS)


def _ap_from_bins(o: pd.DataFrame, n_gt: float) -> float:
    """One (label, thr_idx) curve: bins (bin, n_tp, n_det) -> 101-point AP."""
    o = o.sort_values("bin", ascending=False)
    cum_tp = o["n_tp"].cumsum().to_numpy(dtype=np.float64)
    cum_det = o["n_det"].cumsum().to_numpy(dtype=np.float64)
    recall = cum_tp / n_gt
    precision = cum_tp / np.maximum(cum_det, 1e-12)
    precision = np.maximum.accumulate(precision[::-1])[::-1]
    recall_points = np.arange(101) / 100.0  # exact i/100 (see layout_metrics)
    idx = np.searchsorted(recall, recall_points, side="left")
    interp = np.where(idx < len(precision),
                      precision[np.minimum(idx, len(precision) - 1)], 0.0)
    return float(interp.mean())


def binned_pr_counts(partials: DataFrame, n_bins: int = 10001) -> DataFrame:
    """The distributed partial aggregate: (label, thr_idx, bin, n_tp,
    n_det, n_gt), at most C x T x n_bins detection rows plus one
    (label, null, null, .., n_gt) row per class.

    `partials` holds detection rows (label, score, tp array<boolean>[T])
    and gt rows (label, n_gt) in one frame, each kind's other columns
    null; it is read once."""
    return (
        partials
        .select(
            "label",
            F.floor(F.col("score") * (n_bins - 1)).cast("int").alias("bin"),
            # a gt row has no tp array: one (null, null) row
            F.posexplode_outer("tp").alias("thr_idx", "is_tp"),
            "n_gt",
        )
        .groupBy("label", "thr_idx", "bin")
        .agg(
            F.sum(F.col("is_tp").cast("long")).alias("n_tp"),
            F.count("is_tp").alias("n_det"),
            F.sum("n_gt").alias("n_gt"),
        )
    )


def class_threshold_aps(partials: DataFrame, n_bins: int = 10001) -> pd.DataFrame:
    """partials (as `binned_pr_counts` takes them) -> pandas
    (label, thr_idx, ap), one row per threshold of every class with gt.

    The bins are collected and each curve is walked on the driver.
    Classes with zero gt are excluded (NaN-skip, torchmetrics parity); a
    class with gt but no detections has AP 0.0."""
    bins = binned_pr_counts(partials, n_bins).toPandas()
    is_gt = bins["thr_idx"].isna()
    n_gt = bins[is_gt].groupby("label")["n_gt"].sum()
    curves = dict(list(bins[~is_gt].astype(
        {"thr_idx": "int64", "bin": "int64", "n_tp": "int64", "n_det": "int64"}
    ).groupby(["label", "thr_idx"])))
    aps = [(label, t, _ap_from_bins(curves[label, t], float(g))
            if (label, t) in curves else 0.0)
           for label, g in n_gt.items() if g > 0
           for t in range(N_THRESHOLDS)]
    return pd.DataFrame(aps, columns=["label", "thr_idx", "ap"])


def _mean(s: pd.Series) -> float | None:
    return float(s.mean()) if len(s) else None


def _rounded(x: float | None, name: str):
    return F.round(F.lit(x).cast("double"), 6).alias(name)


def map_row(spark: SparkSession, aps: pd.DataFrame) -> DataFrame:
    """One literal row (map, map_50, map_75) over all classes."""
    return spark.range(1).select(
        _rounded(_mean(aps["ap"]), "map"),
        _rounded(_mean(aps.loc[aps["thr_idx"] == 0, "ap"]), "map_50"),
        _rounded(_mean(aps.loc[aps["thr_idx"] == 5, "ap"]), "map_75"),
    )


def class_ap_rows(spark: SparkSession, aps: pd.DataFrame) -> DataFrame:
    """Literal per-class rows (label, ap, ap_50) — the reference
    consolidator's `class_<label>` columns (consolidator.py:214-217 from
    layout_evaluator's evaluations_per_class)."""
    rows = [(label, _mean(g["ap"]), _mean(g.loc[g["thr_idx"] == 0, "ap"]))
            for label, g in aps.groupby("label")]
    return literal_frame(spark, rows, "label string, ap double, ap_50 double") \
        .select("label", F.round("ap", 6).alias("ap"),
                F.round("ap_50", 6).alias("ap_50"))


def corpus_map_from_partials(detections: DataFrame, gt_counts: DataFrame,
                             n_bins: int = 10001) -> DataFrame:
    """One row (map, map_50, map_75) from separate detection
    (label, score, tp) and gt (label, n_gt) frames."""
    aps = class_threshold_aps(
        detections.unionByName(gt_counts, allowMissingColumns=True), n_bins)
    return map_row(detections.sparkSession, aps)
