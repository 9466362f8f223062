"""Degenerate-bucket guard: a massive identical/near-identical document
family (the Common-Crawl empty-page/boilerplate case) must not make the
LSH candidate self-join quadratic.

Reference has no dedup tier; the scale rationale is Manku et al. 2007 /
Broder 1997 banded LSH with bounded bucket fan-out.
"""

import pytest
from pyspark.sql import functions as F


def _family_corpus(spark, n_family=2000, n_distinct=50):
    """n_family byte-identical docs + n_distinct unique docs."""
    fam = spark.range(n_family).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page text repeated verbatim "
              "across every copy of this template family").alias("text"),
    )
    # genuinely distinct bodies: 12 doc-salted hash tokens, zero overlap
    uniq = spark.range(1_000_000, 1_000_000 + n_distinct).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"_{i}")), 256)
            for i in range(12)
        ]).alias("text"),
    )
    return fam.unionByName(uniq).repartition(8, "doc_id")


def test_hot_bucket_cap_bounds_candidates(spark):
    """With the cap, candidate volume stays bounded even though 2000
    identical docs share every band bucket (uncapped: ~2e6 pairs/band)."""
    from docling_eval_spark.operators.dedup import (
        banded_signatures,
        hot_buckets,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    corpus = _family_corpus(spark)
    sigs = minhash_signatures(corpus).persist()
    try:
        capped = minhash_lsh_candidates(sigs, max_bucket_size=100)
        n_capped = capped.count()
        # family buckets (>100 members) are dropped entirely; unique docs
        # share no buckets, so nothing survives
        assert n_capped == 0
        # drop accounting is visible: 32 bands x 1 hot family bucket
        hot = hot_buckets(banded_signatures(sigs, "doc_id"), 100).collect()
        assert len(hot) == 32
        assert all(r["n"] == 2000 for r in hot)
    finally:
        sigs.unpersist()


def test_near_dedup_collapses_identical_family(spark):
    """End-to-end: exact pre-pass collapses the family to one rep BEFORE
    LSH, so the guard never has to drop anything and the kept set is
    exact: 1 family rep + all unique docs."""
    from docling_eval_spark.operators.dedup import near_dedup

    corpus = _family_corpus(spark, n_family=2000, n_distinct=50)
    kept = near_dedup(corpus, max_bucket_size=100)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert ids == [0] + list(range(1_000_000, 1_000_050))


def test_near_dedup_drops_near_copies(spark):
    """Near copies (one appended token) drop to the min-key rep; texts
    below threshold survive."""
    from docling_eval_spark.operators.dedup import near_dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),
        (2, base + " extra"),          # J = 18/19 >= 0.8 -> dropped
        (3, base),                      # exact dup -> dropped in pre-pass
        (4, "completely different words live here nothing shared at all "
            "with the other documents in this tiny corpus whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in near_dedup(df).select("doc_id").collect())
    assert kept == [1, 4]
