"""The distributed prefix sum behind every ordered pass, and range slicing.

Reference analog: the dataset builders' begin/end slice over a
deterministically ordered dataset (dataset_builder.py's chunked range
walk), and the curation tier's context packing, token-budget cut and
epoch shuffle. Each needs a running total under a global order. The
textbook Spark plan — `row_number()` or `sum() OVER (ORDER BY ...)` —
is an unpartitioned window: Spark warns "No Partition Defined for
Window operation! Moving all data to a single partition" and one task
sorts the whole corpus.

`bucketed_running_total` is the one replacement. The caller tags each
row with a bucket `_b` whose ascending order is the global order
(arithmetic key ranges, hash prefixes, score grids — never sampled);
per-bucket weight totals of the non-empty buckets come to the driver,
one exclusive scan turns them into offsets, the offsets go back as a
broadcast join, and a window PARTITIONED BY bucket adds the local
running total. The result is byte-identical to the global window at
any bucket count, and the largest window partition is one bucket.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import literal_frame

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def require_integral_key(df: DataFrame, key: str, op: str) -> None:
    """Raise TypeError unless `key` is an integral column: key-range
    bucketing and key packing are arithmetic, and a string key would
    order numerically (or fail) instead of in ORDER BY key order."""
    dtype = dict(df.dtypes)[key]
    if dtype not in _INTEGRAL:
        raise TypeError(
            f"{op} needs an integral key column; got {key!r} of type "
            f"{dtype}")


def key_range_bucket(df: DataFrame, key: str, n_buckets: int,
                     bounds: tuple | None = None) -> Column | None:
    """Arithmetic range bucket of an integral `key`: monotone in the key,
    deterministic, no sampling. One min/max probe job unless the caller
    already knows `bounds` = (min, max). None when `df` is empty."""
    lo, hi = bounds or df.agg(F.min(key), F.max(key)).first()
    if lo is None:
        return None
    width = max(1, (int(hi) - int(lo)) // n_buckets + 1)
    return ((F.col(key) - F.lit(int(lo))) / F.lit(width)).cast("long")


def bucketed_running_total(
        df: DataFrame, order: list, weight: Column | None = None,
        keep: Callable[[int, int], bool] | None = None,
        totals: list | None = None) -> DataFrame:
    """Replace `df`'s bucket column `_b` by `_cum`, the inclusive global
    running total of `weight` (default 1: a 1-based rank) under the
    order (`_b` asc, then `order` within a bucket).

    `order` must be total within a bucket. `keep(before, after)` sees
    each bucket's running totals before and after it; buckets it
    rejects drop at the offsets inner join, before the window sorts.
    `totals` is the (bucket, weight total) list of the non-empty
    buckets when the caller's own probe already aggregated it; it
    saves the totals job.
    """
    w = F.lit(1) if weight is None else weight
    if totals is None:
        totals = df.groupBy("_b").agg(F.sum(w)).collect()
    totals = sorted(totals)
    offset, offsets = 0, []
    for b, t in totals:
        if keep is None or keep(offset, offset + int(t)):
            offsets.append((b, offset))
        offset += int(t)
    schema = T.StructType([df.schema["_b"],
                           T.StructField("_off", T.LongType())])
    off_df = literal_frame(df.sparkSession, offsets, schema)
    win = Window.partitionBy("_b").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.join(F.broadcast(off_df), "_b")
        .withColumn("_cum", (F.col("_off") + F.sum(w).over(win)).cast("long"))
        .drop("_b", "_off")
    )


def range_slice(df: DataFrame, start: int, end: int,
                key: str = "doc_id", n_buckets: int = 1024) -> DataFrame:
    """Rows whose 1-based rank under ORDER BY `key` lies in
    (start, end] — i.e. rows start+1 .. end of the key-ordered corpus.

    Scale shape: one min/max probe, one count aggregate (map-side
    partial, bigint-only shuffle), then `bucketed_running_total` over
    key-range buckets. Buckets whose rank interval misses the slice
    drop before the join, so the window only ever sorts the few
    buckets the slice touches; no single-partition exchange anywhere
    (pinned by pytest against the plan string).

    Requires an integral key (crawl-assigned page ids); ties are
    impossible because the key is the total order itself.
    """
    require_integral_key(df, key, "range_slice")
    bucket = key_range_bucket(df, key, n_buckets)
    if bucket is None or end <= start:
        return df.limit(0).withColumn("rn", F.lit(0).cast("long"))
    ranked = bucketed_running_total(
        df.withColumn("_b", bucket), [key],
        keep=lambda before, after: before < end and after > start)
    return (ranked.withColumnRenamed("_cum", "rn")
            .where((F.col("rn") > start) & (F.col("rn") <= end)))
