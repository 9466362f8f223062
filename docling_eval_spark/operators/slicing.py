"""The distributed prefix sum behind every ordered pass: range slicing
and the perplexity rank.

Reference analog: the dataset builders' begin/end slice over a
deterministically ordered dataset (dataset_builder.py's chunked range
walk), and CCNet's perplexity thirds (section 4.4), which rank the
whole corpus by LM score. Each needs a row's position under a global
order. The textbook Spark plan — `row_number() OVER (ORDER BY ...)` —
is an unpartitioned window: Spark warns "No Partition Defined for
Window operation! Moving all data to a single partition" and one task
sorts the whole corpus.

`bucketed_running_total` is the one replacement. The caller tags each
row with a bucket `_b` whose ascending order is the global order
(arithmetic key ranges, score grids — never sampled); per-bucket row
counts of the non-empty buckets come to the driver, one exclusive
scan turns them into offsets, the offsets go back as a broadcast join,
and a window PARTITIONED BY bucket adds the local row number. The
result is byte-identical to the global window at any bucket count,
and the largest window partition is one bucket.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import literal_frame
from .caching import track_caches

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def require_integral_key(df: DataFrame, key: str, op: str) -> None:
    """Raise TypeError unless `key` is an integral column: key-range
    bucketing is arithmetic, and a string key would order numerically
    (or fail) instead of in ORDER BY key order."""
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
        df: DataFrame, order: list,
        keep: Callable[[int, int], bool] | None = None,
        totals: list | None = None) -> DataFrame:
    """Replace `df`'s bucket column `_b` by `_cum`, the 1-based global
    rank under the order (`_b` asc, then `order` within a bucket).

    `order` must be total within a bucket. `keep(before, after)` sees
    each bucket's rank interval before and after it; buckets it
    rejects drop at the offsets inner join, before the window sorts.
    `totals` is the (bucket, row count) list of the non-empty buckets
    when the caller's own probe already counted them; it saves the
    totals job.
    """
    if totals is None:
        totals = df.groupBy("_b").count().collect()
    totals = sorted(totals)
    offset, offsets = 0, []
    for b, t in totals:
        if keep is None or keep(offset, offset + int(t)):
            offsets.append((b, offset))
        offset += int(t)
    schema = T.StructType([df.schema["_b"],
                           T.StructField("_off", T.LongType())])
    off_df = literal_frame(df.sparkSession, offsets, schema)
    win = Window.partitionBy("_b").orderBy(*order)
    return (
        df.join(F.broadcast(off_df), "_b")
        .withColumn("_cum",
                    (F.col("_off") + F.row_number().over(win)).cast("long"))
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


def score_rank(df: DataFrame, score_col: str, key: str,
               max_partition_rows: int | None) -> tuple[DataFrame, int]:
    """`df` plus `rank`, the number of rows strictly before each row
    under (`score_col` asc, `key` asc), and the row count n. A NaN
    score ranks after every number and a NULL after NaN (Spark's
    `ORDER BY s ASC NULLS LAST`, as the DuckDB oracle orders).

    One min/max probe (over the numbers: NaN and NULL share the last
    score cell), one per-bucket count over 256 arithmetic ranges
    of the score domain (no sampling), then `bucketed_running_total`
    with the probe's counts as its totals; n is their sum.

    Skew guard: LM scores CLUSTER and tie, so a plain score-range
    bucket can swallow most of the corpus and its window degenerates
    into a near-global single-task sort. Any bucket whose row count
    exceeds `max_partition_rows` is refined into finer partitions that
    are still INTERVALS of the global order. The partition key is the
    struct (score bucket, c, s, k):

      * few distinct scores (tie mode): c = 0 for a number, 1 for NaN,
        2 for NULL (the driver sorts the keys as Python tuples, where
        NaN and None do not order), s = the number or 0, and k = the
        arithmetic KEY range — within equal scores the order is by key;
      * many distinct scores (fine mode): c = 0, s = the index on a
        finer score grid (width / 256), k = 0;
      * cold buckets: c = 0, s = 0, k = 0 (one partition per bucket).

    The result is byte-identical to the single-window plan for ANY
    cap. One refinement level bounds a tie-heavy partition by
    ~corpus/256^2 rows and a pure tie group by ~ties/256.

    `df` is persisted for the probes and the rank; the returned frame
    tracks it (release with caching.release_caches)."""
    nb = 256    # score buckets, and the refinement factor of a hot one
    score = F.col(score_col)
    num = F.nanvl(score.cast("double"), F.lit(None).cast("double"))
    src = df.persist()
    lo, hi, klo, khi, n_rows = src.agg(
        F.min(num), F.max(num), F.min(key), F.max(key),
        F.count_if(F.lit(True))).first()
    if not n_rows:
        src.unpersist()     # empty input: nothing to share
        return df.withColumn("rank", F.lit(0).cast("long")), 0
    if lo is None:          # only NaN and NULL scores
        lo = hi = 0.0
    span = float(hi) - float(lo)
    width = span / nb if span > 0 else 1.0

    def grid(cell: float, n_cells: int) -> Column:
        # cell 0 = lowest scores; monotone ascending in the score. A
        # NaN or NULL score lands in the last cell: least() skips NULL.
        return F.least(
            F.floor((num - F.lit(float(lo))) / F.lit(cell)),
            F.lit(n_cells - 1))

    src_b = src.withColumn("_b", grid(width, nb).cast("int"))
    per_bucket = src_b.groupBy("_b").agg(
        F.count_if(F.lit(True)).alias("n"),
        F.approx_count_distinct(score_col).alias("ds")).collect()
    n = sum(r["n"] for r in per_bucket)
    hot = [] if max_partition_rows is None else [
        r for r in per_bucket if r["n"] > max_partition_rows]
    # no hot bucket: the probe's counts are the offsets' totals
    totals = None if hot else [(r["_b"], r["n"]) for r in per_bucket]
    if hot:
        try:
            require_integral_key(df, key, "score_rank tie-group refinement")
        except TypeError:
            src.unpersist()
            raise
        tie = F.col("_b").isin([r["_b"] for r in hot if r["ds"] <= nb])
        fine = F.col("_b").isin([r["_b"] for r in hot if r["ds"] > nb])
        kb = key_range_bucket(src, key, nb, bounds=(klo, khi))
        src_b = src_b.withColumn("_b", F.struct(
            F.col("_b"),
            F.when(tie & score.isNull(), F.lit(2))
            .when(tie & num.isNull(), F.lit(1))
            .otherwise(F.lit(0)).alias("c"),
            F.when(tie, F.coalesce(num, F.lit(0.0)))
            .when(fine, grid(width / nb, nb * nb).cast("double"))
            .otherwise(F.lit(0.0)).alias("s"),
            F.when(tie, kb).otherwise(F.lit(0).cast("long")).alias("k")))
    ranked = bucketed_running_total(
        src_b, [F.col(score_col).asc_nulls_last(), F.col(key).asc()],
        totals=totals)
    return track_caches(
        ranked.withColumn("rank", F.col("_cum") - 1).drop("_cum"), src), n
