"""SparkSession factory tuned for the extraction workload.

Design notes (100 TB scale):
  - Arrow batches must stay small: `html` blobs are MBs, so
    `maxRecordsPerBatch` is tuned down (256) to keep a batch well under
    executor memory even for heavy-tailed pages.
  - AQE on: runtime coalescing + skew-join splitting are free wins.
  - shuffle.partitions defaults to 32; a real cluster job overrides it
    via spark-submit conf (rule of thumb: 2-3x total cores, or target
    128-512 MB per shuffle partition).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegralType, StructType

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # html blobs are KB-to-MB scale: cap Arrow batches well below the
    # default 10k rows so a batch of heavy-tailed pages stays bounded
    # (256 rows x ~1 MB worst-case page ≈ 256 MB ceiling per batch).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def usable_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the cores this process may run on.

    Each local core gets its own Python worker, and each worker pays its
    imports, so a default above the usable cores only adds workers."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "docling-eval-spark",
    master: str | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[usable_cpus()]``, so the bench harness can
    run the identical job at two parallelism levels (via
    ``$SPARK_GRAFT_CPUS``) to evidence the N -> 4N scaling-efficiency rule.
    """
    if master is None:
        master = f"local[{usable_cpus()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def literal_frame(spark: SparkSession, rows: list[tuple],
                  schema: str | StructType) -> DataFrame:
    """Small driver-side `rows` (JSON-able values, in `schema` order) as a
    frame planned wholly in the JVM: one JSON string literal that
    `from_json` parses, inlined over one range row. `createDataFrame(list)`
    would re-pickle the rows in a Python task per default-parallelism
    slice; one `lit` per value would cost a Py4J round trip each."""
    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema

    def obj(v, t):  # a struct is a JSON object
        return ({f.name: obj(x, f.dataType) for f, x in zip(t.fields, v)}
                if isinstance(t, StructType) and v is not None else v)

    data = F.lit(json.dumps([obj(r, schema) for r in rows]))
    return spark.range(1).select(F.inline(
        F.from_json(data, ArrayType(schema), {"mode": "FAILFAST"})))


def row_stage(df: DataFrame, rows_of: Callable[..., Iterable[tuple]],
              schema: str) -> DataFrame:
    """One Python stage that calls `rows_of(*values)` for each row of `df`,
    the values in `df`'s column order, and keeps the zero or more tuples
    it yields, in `schema` (a DDL string) order. A null input arrives as
    None (a NaN double too: pandas cannot tell the two apart), except in
    a timestamp column, where it is pandas' NaT. Output values take the shapes `createDataFrame` takes (a tuple or
    dict for a struct, a dict for a map). The plan's `MapInPandas` node
    carries `rows_of`'s name."""
    names = StructType.fromDDL(schema).fieldNames()
    integral = [isinstance(f.dataType, IntegralType) for f in df.schema]

    def stage(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = [_python_values(s, i) for (_, s), i in zip(pdf.items(), integral)]
            yield pd.DataFrame([out for row in zip(*cols) for out in rows_of(*row)],
                               columns=names)

    stage.__name__ = rows_of.__name__
    return df.mapInPandas(stage, schema)


def _python_values(s: pd.Series, integral: bool):
    """A batch column whose iteration yields Python values, None for null:
    pandas holds a null number as NaN, and an integral column with a null
    as float64. Any other column already iterates that way."""
    if s.dtype.kind != "f" or not s.hasnans:
        return s
    return [None if v != v else int(v) if integral else v for v in s.tolist()]
