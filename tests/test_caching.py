"""Cache-release contract: operators that persist shared subtrees must
leave ZERO persistent RDDs behind once the caller consumes the result
and invokes operators.caching.release_caches — the executor-storage
hygiene rule for long-lived sessions (streaming loops, the bench
harness). Each case runs the operator end-to-end, releases, and
asserts the JVM-side persistent-RDD registry is empty."""

import pytest
from pyspark.sql import functions as F

from docling_eval_spark.operators.caching import release_caches, track_caches


def _n_persistent(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    spark.catalog.clearCache()
    assert _n_persistent(spark) == 0
    yield


def _docs(spark, n=30):
    rows = [(i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(12))
             + ("\nrepeat line.\nrepeat line." if i % 3 == 0 else ""))
            for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_track_release_roundtrip(spark):
    base = spark.range(50).persist()
    base.count()
    out = track_caches(base.select((F.col("id") * 2).alias("x")), base)
    assert out.count() == 50
    assert _n_persistent(spark) == 1
    assert release_caches(out) == 1
    assert _n_persistent(spark) == 0
    assert release_caches(out) == 0    # idempotent


def test_corpus_line_dedup_releases(spark):
    from docling_eval_spark.operators.webtext import corpus_line_dedup

    out = corpus_line_dedup(_docs(spark))
    rows = out.collect()
    assert len(rows) == 30
    release_caches(out)
    assert _n_persistent(spark) == 0


def test_full_repetition_stats_releases(spark):
    from docling_eval_spark.operators.webtext import full_repetition_stats

    out = full_repetition_stats(_docs(spark))
    rows = out.collect()
    assert len(rows) == 30
    # intermediates (occ) were already released in-operator; the three
    # plan-feeding caches release on the contract call
    release_caches(out)
    assert _n_persistent(spark) == 0


def test_score_rank_type_error_releases(spark):
    """A hot bucket over a string key raises before the rank is built;
    the persisted input must not outlive the raise."""
    from docling_eval_spark.operators.slicing import score_rank

    df = spark.createDataFrame(
        [(k, 1.0) for k in ("1", "2", "9", "10", "11", "100")],
        ["doc_id", "unigram_nll"])
    before = _n_persistent(spark)
    with pytest.raises(TypeError, match="integral key"):
        score_rank(df, "unigram_nll", "doc_id", max_partition_rows=2)
    assert _n_persistent(spark) <= before


def test_perplexity_buckets_releases(spark):
    from docling_eval_spark.operators.webtext import (
        perplexity_buckets, perplexity_buckets_by_lang)

    scored = _docs(spark).withColumn(
        "unigram_nll", (F.col("doc_id") % 5).cast("double")) \
        .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en"))
    for op in (perplexity_buckets, perplexity_buckets_by_lang):
        out = op(scored)
        assert len(out.collect()) == 30
        release_caches(out)
        assert _n_persistent(spark) == 0


def test_lsh_near_dup_pairs_capped_releases(spark):
    from docling_eval_spark.operators.similarity import (
        lsh_near_dup_pairs, with_scaled_copies)

    emb = spark.createDataFrame(
        [(i, [float(i % 4 + 1), float(i % 3 + 1), 1.0]) for i in range(20)],
        ["vec_id", "embedding"])
    out = lsh_near_dup_pairs(with_scaled_copies(emb), threshold=0.9999,
                             n_planes=8, max_bucket_size=1000)
    out.collect()
    assert _n_persistent(spark) == 1   # the signature GEMM cache
    release_caches(out)
    assert _n_persistent(spark) == 0
    # uncapped library default: no cache at all
    out2 = lsh_near_dup_pairs(with_scaled_copies(emb), threshold=0.9999,
                              n_planes=8)
    out2.collect()
    assert _n_persistent(spark) == 0
