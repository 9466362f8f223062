"""The bucketed prefix sum: range_slice is byte-identical to the global
row_number window, and neither operator built on the prefix sum
(range_slice, the perplexity rank) has a single-partition exchange in
its physical plan."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _global_slice(df, start, end, key="doc_id"):
    w = Window.orderBy(key)
    return (df.withColumn("rn", F.row_number().over(w).cast("long"))
            .where((F.col("rn") > start) & (F.col("rn") <= end)))


@pytest.mark.parametrize("start,end", [(0, 5), (7, 23), (95, 120), (0, 0)])
def test_matches_global_window(spark, start, end):
    from docling_eval_spark.operators.slicing import range_slice

    # sparse, non-contiguous, shuffled keys across several buckets
    rows = [((i * 37) % 1000 + (i % 3) * 10_000, f"v{i}")
            for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "val"]).repartition(8)
    got = sorted((r.doc_id, r.val, r.rn) for r in
                 range_slice(df, start, end, n_buckets=16).collect())
    want = sorted((r.doc_id, r.val, r.rn) for r in
                  _global_slice(df, start, end).collect())
    assert got == want


def _prefix_sum_case(spark, name):
    """(operator output, expected row count)."""
    from docling_eval_spark.operators.slicing import range_slice
    from docling_eval_spark.operators.webtext import perplexity_buckets

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    if name == "range_slice":
        return range_slice(df, 100, 120, n_buckets=16), 20
    # even ids tie on three scores, odd ids spread 500 distinct scores
    # over one narrow band: with a small cap both refinements run
    scored = df.withColumn("unigram_nll", F.when(
        F.col("doc_id") % 2 == 0, (F.col("doc_id") % 3).cast("double"))
        .otherwise(10 + F.col("doc_id") / 1e6))
    cap = 20 if name == "perplexity_buckets_hot" else None
    return perplexity_buckets(scored, max_partition_rows=cap), 1000


@pytest.mark.parametrize("name", [
    "range_slice", "perplexity_buckets_cold", "perplexity_buckets_hot"])
def test_no_single_partition_window(spark, name):
    from docling_eval_spark.operators.caching import release_caches

    out, n_rows = _prefix_sum_case(spark, name)
    assert len(out.collect()) == n_rows
    # executedPlan is only final after the SAME DataFrame executed
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_caches(out)
    assert "SinglePartition" not in plan
    assert "TakeOrderedAndProject" not in plan


def test_plan_probe_detects_global_window(spark):
    """The oracle-shaped plan DOES funnel the corpus globally — either a
    single-partition window exchange, or (when `end` is small enough
    for LimitPushDownThroughWindow) a global top-`end` — so the probe
    above distinguishes the shapes."""
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    bad = _global_slice(df, 100, 120)
    bad.collect()
    bad_plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in bad_plan or \
        "TakeOrderedAndProject" in bad_plan


def test_only_overlapping_buckets_join(spark):
    """Non-overlapping buckets drop at the offsets inner join: the
    slice of a 10k-row frame should never rank more than ~2 buckets'
    worth of rows."""
    from docling_eval_spark.operators.slicing import range_slice

    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    out = range_slice(df, 5_000, 5_010, n_buckets=100)
    rows = out.collect()
    assert [r.doc_id for r in sorted(rows, key=lambda r: r.rn)] == \
        list(range(5_000, 5_010))


def test_string_key_rejected(spark):
    from docling_eval_spark.operators.slicing import range_slice

    df = spark.createDataFrame([("a",)], ["doc_id"])
    with pytest.raises(TypeError, match="integral key"):
        range_slice(df, 0, 1)


def test_perplexity_refinement_string_key_rejected(spark):
    from docling_eval_spark.operators.webtext import perplexity_buckets

    # the tie refinement buckets the key arithmetically; numeric-looking
    # strings order "1" < "10" < "100" < "11" under ORDER BY key
    df = spark.createDataFrame(
        [(k, 1.0) for k in ("1", "2", "9", "10", "11", "100")],
        ["doc_id", "unigram_nll"])
    with pytest.raises(TypeError, match="integral key"):
        perplexity_buckets(df, max_partition_rows=2)


@pytest.mark.parametrize("cap", [None, 40])
def test_score_rank_nan_after_numbers_before_null(spark, cap):
    """rank == row_number() OVER (ORDER BY s ASC NULLS LAST, k) - 1 with
    NaN, NULL and ties. With the cap, three buckets are hot: the 0.0 tie
    block and the top one (100.0, NaN, NULL) take the tie refinement,
    the 400-score cluster the fine grid."""
    from docling_eval_spark.operators.caching import release_caches
    from docling_eval_spark.operators.slicing import score_rank

    nan = float("nan")
    scores = [0.0] * 200 + [5.0 + i * 1e-6 for i in range(400)]
    scores += [100.0] * 60 + [nan] * 70 + [None] * 70
    scores += [i * 4.0 for i in range(20)]
    # keys shuffled against the score order
    rows = [((i * 7919) % 10_007, s) for i, s in enumerate(scores)]
    df = spark.createDataFrame(rows, "k long, s double").repartition(8)
    ranked, n = score_rank(df, "s", "k", max_partition_rows=cap)
    got = {r.k: r["rank"] for r in ranked.collect()}
    release_caches(ranked)
    w = Window.orderBy(F.col("s").asc_nulls_last(), F.col("k"))
    want = {r.k: r.rn for r in df.select(
        "k", (F.row_number().over(w) - 1).alias("rn")).collect()}
    assert n == len(rows)
    assert got == want
