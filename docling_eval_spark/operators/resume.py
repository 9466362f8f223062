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

A run accounts for its append without re-reading the output
(`CommittedOutput`): the rows already committed are observed on the
anti-join's own read of the output, the rows this run adds on its one
write. The cumulative total is their sum, where a
`read.parquet(output).count()` after the write would scan all 10^12
committed rows on every increment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _has_data_files(spark: SparkSession, output_path: str) -> bool:
    """Whether `output_path` holds a file Spark would read (not under a
    `_`/`.` name such as `_SUCCESS` or `_temporary/`, though `_k=v` is a
    partition), listed through the path's own Hadoop FileSystem so URIs
    work, up to the first one found."""
    path = spark._jvm.org.apache.hadoop.fs.Path(output_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    todo = [path] if fs.exists(path) else []
    while todo:
        for status in fs.listStatus(todo.pop()):  # a file lists itself
            name = status.getPath().getName()
            if name[0] == "." or (name[0] == "_" and "=" not in name):
                continue
            if status.isFile():
                return True
            todo.append(status.getPath())
    return False


def read_committed(spark: SparkSession, output_path: str) -> DataFrame | None:
    """The committed output, or None if fresh.

    Only an output path that is missing or holds no data files (empty, or
    only `_temporary/` and `_SUCCESS` left by a killed first run) means
    fresh, as a listing finds: once an Observation has run, Spark logs a
    failed read as an ERROR stack. An error of the listing, or of the read
    of data files (transient or corrupt), propagates: taken as fresh, it
    would make a resumed job re-extract and re-append everything."""
    return spark.read.parquet(output_path) \
        if _has_data_files(spark, output_path) else None


def resume_filter(inputs: DataFrame, spark: SparkSession, output_path: str,
                  key: str = "url") -> DataFrame:
    """Drop input rows whose key is already committed (idempotent restart)."""
    done = read_committed(spark, output_path)
    if done is None:
        return inputs
    return inputs.join(done.select(key), on=key, how="left_anti")


def observed(obs: Observation) -> dict | None:
    """The metrics of `obs` once the action that ran its frame is over.

    None when the optimizer pruned the observed subtree from that action
    (an anti-join whose other side is known to be empty): the
    observation then completes with an empty row, which
    `Observation.get` cannot convert. Blocks forever if no action ran
    the observed frame at all."""
    return obs.get if obs._jo.getRow().length() else None


class CommittedOutput:
    """A run's append to a committed output table, and the table's
    cumulative totals, counted in passes the run makes anyway.

    `keys` is the resume anti-join's build side; the committed rows (and
    the rows where `ok_col` holds) are observed on that same read.
    `append` writes once and observes this run's rows on the write. A
    fresh output has prior totals of 0 and costs nothing; an existing
    output that no `keys` read touched costs one aggregation over it,
    before the write.

    Observed counts are a report, not the commit: a shuffle stage that
    Spark re-runs after losing its output adds its rows to the prior
    observation again."""

    def __init__(self, spark: SparkSession, path: str,
                 ok_col: str | None = None):
        self.path = path
        self._table = read_committed(spark, path)
        self._metrics = [F.count(F.lit(1)).alias("rows")]
        if ok_col is not None:
            self._metrics.append(F.count_if(F.col(ok_col)).alias("ok"))
        self._prior_obs: Observation | None = None
        self.prior = {"rows": 0, "ok": 0} if self._table is None else None
        self.written: dict | None = None

    def keys(self, key: str) -> DataFrame | None:
        """Committed `key` values, or None if the output is fresh."""
        if self._table is None:
            return None
        self._prior_obs = Observation()
        return self._table.observe(self._prior_obs, *self._metrics).select(key)

    def skip_committed(self, inputs: DataFrame, key: str) -> DataFrame:
        """`inputs` without the rows whose `key` is committed."""
        done = self.keys(key)
        return inputs if done is None else inputs.join(done, key, "left_anti")

    def _count(self) -> dict:
        return self._table.agg(*self._metrics).first().asDict()

    def append(self, df: DataFrame) -> dict:
        """Append `df` in one write; returns its observed totals."""
        if self.prior is None and self._prior_obs is None:
            self.prior = self._count()  # no resume read to observe it on
        obs = Observation()
        df.observe(obs, *self._metrics).write.mode("append").parquet(self.path)
        self.written = observed(obs)
        return self.written

    def total(self, metric: str = "rows") -> int:
        """`metric` over the whole table, after `append`."""
        if self.prior is None:
            # `_table` listed its files when it was read, so even after
            # the write it counts only the rows committed before this run
            self.prior = observed(self._prior_obs) or self._count()
        return self.prior[metric] + self.written[metric]


def run_resumable(inputs: DataFrame, transform, spark: SparkSession,
                  output_path: str, key: str = "url") -> int:
    """resume_filter -> transform -> append. Returns rows written THIS run.

    The count is observed on the one write, never taken from re-scanning
    the cumulative committed table: at 10^12 committed rows a
    before/after `read.parquet(output).count()` is two full-table scans
    per increment. No persist is needed for count and write to see the
    same rows: they are one pass."""
    out = CommittedOutput(spark, output_path)
    return out.append(transform(out.skip_committed(inputs, key)))["rows"]
