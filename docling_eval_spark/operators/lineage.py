"""Per-partition lineage rows (the north rule's sidecar table).

Rebuild analog of the reference's rejected_samples counters and
dataset_infos.json (SURVEY.md §2.4 A3, §2.1 S7): every extraction run
appends one row per task partition to a lineage table —
(run_id, partition_id, n_rows, n_ok, n_reject) — so a 100 TB job is
auditable per task and a resume can account for exactly what was
committed. Partitions that produced no row get no lineage row.

Two forms of the same rows:

  - `lineage_rows` / `append_lineage`: a groupBy over
    spark_partition_id() of a scored frame — one more aggregation over
    that frame, so a caller that also writes it must persist it or
    compute it twice;
  - `partition_counter` / `append_partition_counts`: the form the
    production job uses. Like the reference, which counts accepted and
    rejected samples in the loop that writes the dataset, the fused
    extract+score stage (plans/pipeline.py) counts each task's rows
    itself, keyed by TaskContext.partitionId() — the id
    spark_partition_id() reports in that stage. The driver appends the
    collected counts as a literal frame: no second pass over the data,
    no persist, no Python task.
"""

from __future__ import annotations

from pyspark import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import literal_frame


def lineage_rows(scored: DataFrame, run_id: str,
                 ok_col: str = "byte_identical") -> DataFrame:
    """One row per partition of `scored` with row/ok/reject counts."""
    return (
        scored.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(ok_col).cast("long")).alias("n_ok"),
            F.sum((~F.col(ok_col)).cast("long")).alias("n_reject"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select("run_id", "partition_id", "n_rows", "n_ok", "n_reject")
    )


def append_lineage(scored: DataFrame, run_id: str, sidecar_path: str,
                   ok_col: str = "byte_identical") -> None:
    lineage_rows(scored, run_id, ok_col).write.mode("append").parquet(sidecar_path)


class PartitionCounts(AccumulatorParam):
    """{partition_id: (n_rows, n_ok, n_reject)}, merged by overwrite.

    A task that runs again (a retry, a speculative copy, a stage
    recomputed after lost shuffle output) reports the same partition's
    counts again; overwriting keeps one entry per partition where adding
    would double count it."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, update):
        acc.update(update)
        return acc


def partition_counter(spark: SparkSession) -> Accumulator:
    """An empty accumulator for per-task (n_rows, n_ok, n_reject) counts."""
    return spark.sparkContext.accumulator({}, PartitionCounts())


def append_partition_counts(spark: SparkSession, counts: dict, run_id: str,
                            sidecar_path: str) -> int:
    """Append `counts` (a partition_counter's value) as lineage rows.

    Returns the rows appended. Partitions with no rows are skipped, as
    `lineage_rows`' groupBy skips them; a run with none appends
    nothing."""
    rows = [(p, *c) for p, c in sorted(counts.items()) if c[0]]
    if rows:
        (literal_frame(spark, rows, "partition_id int, n_rows bigint, "
                                    "n_ok bigint, n_reject bigint")
         .select(F.lit(run_id).alias("run_id"), "*")
         .write.mode("append").parquet(sidecar_path))
    return len(rows)
