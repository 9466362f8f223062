"""Checkpoint/resume for the extraction job (north rule).

The reference restarts from scratch or skips whole datasets
(multi_evalutor.py:201-213, utils.py:462-481 `dataset_exists`). At
10^12-doc scale the unit of resume must be the row, not the dataset:

  - the job appends scored rows to an output table (parquet here; Iceberg
    `writeTo(...).append()` on a cluster, where the snapshot IS the
    checkpoint);
  - on restart, `resume_filter` anti-joins the input on the keys already
    committed, so work is idempotent: crash between appends loses at most
    the uncommitted in-flight partition writes (Iceberg: nothing, commits
    are atomic).

The anti-join's build side is keys-only (url) — at 10^12 rows this is a
shuffle join on a bucketed key column, and Iceberg bucket(url) layout makes
it storage-partitioned (shuffle-free). Column pruning keeps it to one
string column either way.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# no output yet, or a directory with no data files (Spark ignores `_`/`.` names)
_FRESH_CONDITIONS = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def committed_keys(spark: SparkSession, output_path: str, key: str = "url") -> DataFrame | None:
    """Keys already present in the committed output, or None if fresh.

    Only an output path that is missing or holds no data files (empty, or
    only `_temporary/` and `_SUCCESS` left by a killed first run) means
    fresh. Spark decides both, so local paths and URIs (`file://`,
    `hdfs://`, `s3a://`) behave alike. Any other error (a transient or
    corrupt read) propagates: taken as fresh, it would make a resumed job
    re-extract and re-append everything."""
    try:
        return spark.read.parquet(output_path).select(key)
    except AnalysisException as e:
        if e.getCondition() in _FRESH_CONDITIONS:
            return None
        raise


def resume_filter(inputs: DataFrame, spark: SparkSession, output_path: str,
                  key: str = "url") -> DataFrame:
    """Drop input rows whose key is already committed (idempotent restart)."""
    done = committed_keys(spark, output_path, key)
    if done is None:
        return inputs
    return inputs.join(done, on=key, how="left_anti")


def run_resumable(inputs: DataFrame, transform, spark: SparkSession,
                  output_path: str, key: str = "url") -> int:
    """resume_filter -> transform -> append. Returns rows written THIS run.

    The count comes from THIS run's persisted output frame, never from
    re-scanning the cumulative committed table: at 10^12 committed rows a
    before/after `read.parquet(output).count()` is two full-table scans
    per increment. Persisting `out` (MEMORY_AND_DISK, spills if large)
    also guarantees count and write see the same rows exactly once."""
    done = committed_keys(spark, output_path, key)
    todo = inputs if done is None else inputs.join(done, on=key, how="left_anti")
    out = transform(todo).persist()
    try:
        n = out.count()
        out.write.mode("append").parquet(output_path)
    finally:
        out.unpersist()
    return n
