"""Reporting / consolidation plans: rejection counters, timings rollup,
consolidation pivot, and the JSON evaluation sink.

Parity targets:
  - rejection counters (SURVEY.md §2.4 A3; reference
    evaluators/base_evaluator.py:25-39 `EvaluationRejectionType` +
    per-evaluator in-loop counting, e.g. markdown_text_evaluator.py:125-161):
    one groupBy over a derived reason column — accepted statuses are
    {success, partial_success} (base_evaluator.py:95-98, P2) and missing
    predictions reject with their own reason (P3).
  - timings rollup (A9; reference evaluators/timings_evaluator.py:99-116):
    `prediction_timings: Dict[str, List[float]]` -> explode the map,
    aggregate the per-stage lists with higher-order functions — no Python.
  - consolidation pivot (A11; reference aggregations/consolidator.py:
    143-205): benchmark x modality matrix via groupBy().pivot() with an
    EXPLICIT pivot value list (deterministic column order, single pass).
  - JSON evaluation sink (S9/S8; reference cli/main.py:432-524): dataset
    rollup struct dumped to JSON on the driver — the only driver-side step.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_documents

ACCEPTED_STATUSES = ("success", "partial_success")
LANGS = ("de", "en", "es", "fr", "zh")


def with_synthetic_status(docs: DataFrame) -> DataFrame:
    """Deterministic conversion status + missing-prediction flags:
    doc_id % 11 == 0 -> failure, % 11 == 1 -> partial_success, else
    success; doc_id % 13 == 0 -> prediction missing."""
    return docs.withColumn(
        "status",
        F.when(F.col("doc_id") % 11 == 0, "failure")
        .when(F.col("doc_id") % 11 == 1, "partial_success")
        .otherwise("success"),
    ).withColumn(
        "pred_present", F.col("doc_id") % 13 != 0
    )


def rejection_summary(docs: DataFrame) -> DataFrame:
    """groupBy over the rejection reason (A3): status gate first (P2),
    then missing-prediction gate (P3) — the reference's check order."""
    reason = (
        F.when(~F.col("status").isin(*ACCEPTED_STATUSES),
               "invalid_conversion_status")
        .when(~F.col("pred_present"), "missing_prediction")
        .otherwise("accepted")
    )
    return (
        docs.select(reason.alias("reason"))
        .groupBy("reason").agg(F.count("*").alias("n"))
        .orderBy("reason")
    )


def with_synthetic_timings(docs: DataFrame) -> DataFrame:
    """map<stage, array<double>> built natively: stage k in {1,2,3} gets
    [t, t/2] with t = (doc_id * k % 100) / 100 (deterministic, SQL-exact)."""
    stages = {"tokenize": 1, "classify": 2, "assemble": 3}
    t = {s: (F.col("doc_id") * k % 100) / 100.0 for s, k in stages.items()}
    return docs.withColumn(
        "prediction_timings",
        F.map_from_arrays(
            F.array(*[F.lit(s) for s in stages]),
            F.array(*[F.array(t[s], t[s] / 2.0) for s in stages]),
        ),
    )


def timings_rollup(docs: DataFrame) -> DataFrame:
    """A9: explode the timings map; per-stage totals via F.aggregate."""
    per_doc = _stage_totals(docs)
    return (
        per_doc.groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("stage_total"), 6).alias("total_sec"),
            F.round(F.avg("stage_total"), 6).alias("mean_sec"),
        )
        .orderBy("stage")
    )


def _stage_totals(docs: DataFrame) -> DataFrame:
    exploded = docs.select(
        "doc_id", F.explode("prediction_timings").alias("stage", "times")
    )
    return exploded.withColumn(
        "stage_total",
        F.aggregate("times", F.lit(0.0), lambda acc, x: acc + x),
    )


def timings_stats(docs: DataFrame) -> DataFrame:
    """A9 at full DatasetStatistics parity (reference stats.py:77-97
    compute_stats): per-stage total/mean/median/std — median and stddev
    are exact (Spark's interpolated median matches statistics.median;
    sample stddev matches statistics.stdev, 0.0 for n<2)."""
    per_doc = _stage_totals(docs)
    return (
        per_doc.groupBy("stage")
        .agg(
            F.count("*").alias("total"),
            F.round(F.avg("stage_total"), 6).alias("mean_sec"),
            F.round(F.median("stage_total"), 6).alias("median_sec"),
            F.round(F.coalesce(F.stddev_samp("stage_total"), F.lit(0.0)), 6)
            .alias("std_sec"),
        )
        .orderBy("stage")
    )


def timings_histogram(docs: DataFrame, nr_bins: int = 20) -> DataFrame:
    """The 20-bin histogram half of compute_stats (np.histogram over
    (0, max), max_value_is_one=False for timings — stats.py:87-92):
    bucket = floor(x/max*bins) with the right edge folded into the last
    bin, all bins present zero-filled. When a stage's max is 0 (all-zero
    timings), np.histogram widens the equal edges by ±0.5 and every
    value lands in the middle bin — mirrored here instead of a NaN
    bucket. One pass + a per-stage window max; the bin frame is a
    broadcast literal range."""
    from pyspark.sql import Window

    per_doc = _stage_totals(docs)
    w = Window.partitionBy("stage")
    bucketed = per_doc.withColumn("_mx", F.max("stage_total").over(w)) \
        .select(
            "stage",
            F.when(F.col("_mx") == 0, F.lit(nr_bins // 2))
            .otherwise(
                F.least(F.floor(F.col("stage_total") / F.col("_mx") * nr_bins),
                        F.lit(nr_bins - 1))).cast("int").alias("bucket"),
        )
    counts = bucketed.groupBy("stage", "bucket").agg(F.count("*").alias("n"))
    spark = docs.sparkSession
    bins = spark.range(nr_bins).select(F.col("id").cast("int").alias("bucket"))
    stages = counts.select("stage").distinct()
    return (
        stages.crossJoin(F.broadcast(bins))
        .join(counts, on=["stage", "bucket"], how="left")
        .select("stage", "bucket",
                F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
        .orderBy("stage", "bucket")
    )


def consolidation_pivot(docs: DataFrame) -> DataFrame:
    """A11: benchmark(source) x modality(lang) count matrix in one pass.

    The explicit pivot value list keeps the plan single-pass (no distinct
    scan for pivot values) and the column order deterministic.
    """
    return (
        docs.groupBy("source")
        .pivot("lang", list(LANGS))
        .count()
        .na.fill(0, list(LANGS))
        .orderBy("source")
    )


def write_evaluation_json(rollup_row: dict, path: str, benchmark: str,
                          modality: str) -> None:
    """S8: the reference dumps `DatasetEvaluation.model_dump()` per
    modality (cli/main.py:445-524); here the collected rollup struct."""
    doc = {"benchmark": benchmark, "modality": modality,
           "evaluation": {k: (v if not hasattr(v, "item") else v.item())
                          for k, v in rollup_row.items()}}
    with open(path, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)


def docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_documents(spark, sf_dir, ["doc_id", "lang", "source"])
