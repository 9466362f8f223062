import pytest


@pytest.fixture(autouse=True)
def _release_leftovers(spark):
    """Free the local checkpoints a test leaves behind (the operators
    here return them, and only release_checkpoint reaches them), so a
    later module starts from no persistent RDDs."""
    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    yield
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in set(rdds.keySet()) - before:
        rdds.get(rdd_id).unpersist(False)


def test_dup_components_chain_and_clique(spark):
    from docling_eval_spark.operators.dedup import dup_components

    # chain 1-2-3-4-5 (given as scattered directed pairs), clique 10/11/12,
    # isolated pair (20, 7)
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (5, 4),
         (10, 11), (11, 12), (10, 12),
         (20, 7)], ["a", "b"])
    out = {r.node: r.component for r in dup_components(pairs).collect()}
    assert {out[k] for k in (1, 2, 3, 4, 5)} == {1}
    assert {out[k] for k in (10, 11, 12)} == {10}
    assert out[20] == 7 and out[7] == 7
    assert len(out) == 10


def test_dup_components_long_path_converges(spark):
    from docling_eval_spark.operators.dedup import dup_components

    # a 33-node path: min label must travel 32 hops; pointer doubling
    # keeps that well inside the max_iter backstop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 132)], ["a", "b"])
    out = {r.node: r.component for r in dup_components(pairs).collect()}
    assert set(out.values()) == {100} and len(out) == 33


def test_dedup_against_history(spark):
    from docling_eval_spark.operators.dedup import dedup_against

    history = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, "seen before"),    # exists in history -> dropped
         (2, "brand new"),
         (3, "brand new"),      # within-batch dup of 2 -> dropped
         (4, "also new")],
        ["doc_id", "text"])
    kept = sorted(r.doc_id for r in dedup_against(batch, history).collect())
    assert kept == [2, 4]


def test_near_dedup_against_history(spark):
    from docling_eval_spark.operators.dedup import near_dedup_against

    t_hist = "the quick brown fox jumps over the lazy dog end"
    t_new = "completely different words here about other topics now"
    history = spark.createDataFrame([(100, t_hist)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, t_hist),            # exact recrawl -> exact stage drops
         (2, t_hist + " xdup"),  # near recrawl (J=8/9) -> history stage
         (3, t_new),             # genuinely new -> kept
         (4, t_new),             # within-batch exact of 3 -> dropped
         (5, t_new + " tail"),   # within-batch near of 3 (J=6/7)
         (6, "unrelated short")],
        ["doc_id", "text"])
    kept = sorted(r.doc_id
                  for r in near_dedup_against(batch, history).collect())
    assert kept == [3, 6]


def test_near_dedup_against_precomputed_signatures(spark):
    """history_sigs (the steady-state signature store) must be
    row-identical to the recompute path — including extra columns in
    the store (only key+sig are consumed) and a store carrying benign
    duplicate rows (the crash-replay shape)."""
    from docling_eval_spark.operators.dedup import (
        minhash_signatures, near_dedup_against)

    t_hist = "the quick brown fox jumps over the lazy dog end"
    t_hist2 = "another committed page with its own unique words inside"
    t_new = "completely different words here about other topics now"
    history = spark.createDataFrame(
        [(100, t_hist), (102, t_hist2)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, t_hist), (2, t_hist + " xdup"), (3, t_new), (4, t_new),
         (5, t_hist2 + " tail tail"), (6, "unrelated short")],
        ["doc_id", "text"])
    base = sorted(r.doc_id
                  for r in near_dedup_against(batch, history).collect())
    sigs = minhash_signatures(history, "text", "doc_id")
    with_store = sorted(
        r.doc_id for r in near_dedup_against(
            batch, history, history_sigs=sigs).collect())
    assert with_store == base
    # duplicate signature rows (replayed-append shape) plus an extra
    # column (stores may carry metadata): same output
    from pyspark.sql import functions as F

    dup_store = sigs.unionByName(sigs).withColumn("extra", F.lit("x"))
    with_dups = sorted(
        r.doc_id for r in near_dedup_against(
            batch, history, history_sigs=dup_store).collect())
    assert with_dups == base


def test_near_dedup_against_replayed_batch_keeps_its_rows(spark):
    """A batch replayed after a crash between the signature-store append
    and the output append finds its own signatures in the store while
    history lacks its rows. It must keep exactly the rows of a
    store-free run: neither drop survivors against their own stored
    copies nor let stored survivors change the within-batch pass (the
    chain 10 ~ 11 ~ 12 keeps only 10 either way)."""
    from docling_eval_spark.operators.dedup import (
        minhash_signatures, near_dedup_against)

    words = [f"w{i}" for i in range(36)]
    history = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog end"),
         (101, "another committed page with its own unique words inside")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, "completely different words here about other topics now"),
         (2, "unrelated short"),
         (10, " ".join(words[0:30])),   # J(10, 11) = J(11, 12) = 25/31
         (11, " ".join(words[3:33])),
         (12, " ".join(words[6:36]))],  # J(10, 12) = 22/34: not a dup
        ["doc_id", "text"])
    kept = near_dedup_against(batch, history)
    base = sorted(r.doc_id for r in kept.collect())
    assert base == [1, 2, 10]
    store = minhash_signatures(history, "text", "doc_id").unionByName(
        minhash_signatures(kept, "text", "doc_id"))
    replay = sorted(r.doc_id for r in near_dedup_against(
        batch, history, history_sigs=store).collect())
    assert replay == base


def test_banded_signatures_keys_on_named_column(spark):
    """One (key, band, bucket) row per band, keyed by whatever column the
    signatures carry: identical texts land in the same bucket of every
    band, an unrelated text in none of them."""
    from docling_eval_spark.operators.dedup import (
        banded_signatures, minhash_signatures)

    text = "the quick brown fox jumps over the lazy dog end"
    df = spark.createDataFrame(
        [(7, text), (8, text),
         (9, "completely different words here about other topics now")],
        ["page_id", "text"])
    banded = banded_signatures(minhash_signatures(df, "text", "page_id"),
                               "page_id", bands=16, rows_per_band=8)
    assert banded.columns == ["page_id", "band", "bucket"]
    rows = banded.collect()
    buckets = {k: [r.bucket for r in sorted(rows, key=lambda r: r.band)
                   if r.page_id == k] for k in (7, 8, 9)}
    assert sorted({r.band for r in rows}) == list(range(16))
    assert all(len(b) == 16 for b in buckets.values())
    assert buckets[7] == buckets[8]
    assert not set(zip(range(16), buckets[7])) & \
        set(zip(range(16), buckets[9]))


def _persistent_ids(spark) -> set[int]:
    """Persistent RDDs left once every cached plan is released: the
    local checkpoints that only their operator can unpersist."""
    spark.catalog.clearCache()
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_dup_components_keeps_only_the_returned_checkpoint(spark):
    from docling_eval_spark.operators.dedup import dup_components

    before = _persistent_ids(spark)
    # a 31-node path runs several rounds, each ending in a checkpoint
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 230)], ["a", "b"])
    out = dup_components(pairs)
    assert {r.component for r in out.collect()} == {200}
    assert len(_persistent_ids(spark) - before) <= 1


def test_near_dedup_against_keeps_only_the_returned_checkpoint(spark):
    """Both entry points leave only their returned checkpoint, and
    release_checkpoint frees it."""
    from docling_eval_spark.operators.dedup import (
        near_dedup, near_dedup_against, release_checkpoint)

    text = "the quick brown fox jumps over the lazy dog end"
    history = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, text + " xdup"), (2, "unrelated short")], ["doc_id", "text"])
    before = _persistent_ids(spark)
    kept = near_dedup_against(batch, history)
    assert [r.doc_id for r in kept.collect()] == [2]
    assert len(_persistent_ids(spark) - before) <= 1
    release_checkpoint(kept)
    kept = near_dedup(batch)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]
    assert len(_persistent_ids(spark) - before) <= 1
    release_checkpoint(kept)
    assert not _persistent_ids(spark) - before


def test_near_dedup_against_leaves_no_cached_plan(spark):
    """Without any clearCache: the within-batch pairs frame is unpersisted
    and the survivors' checkpoint released once the result exists."""
    from docling_eval_spark.operators.dedup import near_dedup_against

    text = "the quick brown fox jumps over the lazy dog end"
    history = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    t_new = "completely different words here about other topics now"
    batch = spark.createDataFrame(
        [(1, text + " xdup"), (3, t_new), (5, t_new + " tail")],
        ["doc_id", "text"])
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    kept = near_dedup_against(batch, history)
    assert [r.doc_id for r in kept.collect()] == [3]
    assert cache.isEmpty()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(after - before) <= 1


def _ids(df) -> list:
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _near_dup_corpus(spark, sf_dir):
    """with_near_dups over the documents, spread over 4 partitions."""
    from pyspark.sql import functions as F

    from docling_eval_spark.operators.dedup import with_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    return with_near_dups(docs).repartition(
        4, F.xxhash64("doc_id", F.lit(0x5EED)))


def test_null_text_passes_through_every_stage(spark):
    """A NULL text is nobody's duplicate: every dedup stage keeps its
    rows as they are, and the minhash stage never signs them."""
    from docling_eval_spark.operators.dedup import (
        dedup_against, exact_dedup, exact_dedup_summary, minhash_signatures,
        near_dedup, near_dedup_against)

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, None),
         (3, None), (4, "completely different words here about other topics")],
        "doc_id long, text string")
    history = spark.createDataFrame(
        [(9, None), (8, "a committed page with words of its own")],
        "doc_id long, text string")
    assert _ids(exact_dedup(df)) == [1, 2, 3, 4]
    assert tuple(exact_dedup_summary(df).first()) == (4, 4, 0)
    assert _ids(dedup_against(df, history)) == [1, 2, 3, 4]
    assert _ids(near_dedup(df)) == [1, 2, 3, 4]
    assert _ids(near_dedup_against(df, history)) == [1, 2, 3, 4]
    assert _ids(minhash_signatures(df)) == [1, 4]


def test_string_keys_keep_the_same_rows(spark, sf_dir):
    """Hex string ids, the shape of the WARC path's md5-hex ids
    (zero-padded, so they sort like the integers), keep the same rows as
    the integer ids, with and without a history and a signature store."""
    from pyspark.sql import functions as F

    from docling_eval_spark.operators.dedup import (
        minhash_signatures, near_dedup, near_dedup_against)

    def as_str(df):
        return df.withColumn(
            "doc_id", F.lpad(F.hex("doc_id"), 12, "0"))

    def ints(df):
        return sorted(int(str(r.doc_id), 16) if isinstance(r.doc_id, str)
                      else r.doc_id for r in df.select("doc_id").collect())

    corpus = _near_dup_corpus(spark, sf_dir)
    assert ints(near_dedup(as_str(corpus))) == ints(near_dedup(corpus))
    hist = corpus.where(F.col("doc_id") % 2 == 0)
    batch = corpus.where(F.col("doc_id") % 2 == 1)
    want = ints(near_dedup_against(batch, hist))
    assert ints(near_dedup_against(as_str(batch), as_str(hist))) == want
    store = minhash_signatures(as_str(hist))
    assert ints(near_dedup_against(as_str(batch), as_str(hist),
                                   history_sigs=store)) == want


def test_each_batch_row_is_signed_once(spark):
    """The minhash stage emits one row per batch row the exact stage
    keeps: the history probe, the within-batch pass and the caller's
    signature store all read those signatures."""
    from status_store import next_execution, stage_rows

    from docling_eval_spark.operators.dedup import (
        dedup_against, exact_dedup, minhash_signatures, near_dedup,
        near_dedup_against)

    t_hist = "the quick brown fox jumps over the lazy dog end"
    t_new = "completely different words here about other topics now"
    history = spark.createDataFrame([(100, t_hist)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, t_hist), (2, t_hist + " xdup"), (3, t_new), (4, t_new),
         (5, t_new + " tail"), (6, "unrelated short")],
        ["doc_id", "text"])
    store = minhash_signatures(history).localCheckpoint()
    n_exact = dedup_against(batch, history).count()
    since = next_execution(spark)
    assert _ids(near_dedup_against(batch, history, history_sigs=store)) \
        == [3, 6]
    assert stage_rows(spark, since, "_minhash") == n_exact == 4
    n_exact = exact_dedup(batch).count()
    since = next_execution(spark)
    assert _ids(near_dedup(batch)) == [1, 3, 6]
    assert stage_rows(spark, since, "_minhash") == n_exact == 5


def test_near_dedup_is_near_dedup_against_no_history(spark, sf_dir):
    from docling_eval_spark.operators.dedup import (
        near_dedup, near_dedup_against)

    corpus = _near_dup_corpus(spark, sf_dir)
    kept = _ids(near_dedup(corpus))
    assert kept == _ids(near_dedup_against(corpus, corpus.limit(0)))
    assert 0 < len(kept) < corpus.count()


def test_near_dedup_job_counts(spark, sf_dir):
    """Spark jobs per call (the status tracker's count for a job group),
    pinned at or below what the two separate pipelines ran."""
    from pyspark.sql import functions as F

    from docling_eval_spark.operators.dedup import (
        near_dedup, near_dedup_against, release_checkpoint)

    sc = spark.sparkContext
    corpus = _near_dup_corpus(spark, sf_dir).persist()
    corpus.count()
    hist = corpus.where(F.col("doc_id") % 2 == 0)
    batch = corpus.where(F.col("doc_id") % 2 == 1)
    counts = {}
    for name, run in (("near_dedup", lambda: near_dedup(corpus)),
                      ("near_dedup_against",
                       lambda: near_dedup_against(batch, hist))):
        sc.setJobGroup(f"dedup-jobs-{name}", name)
        try:
            kept = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts[name] = len(sc.statusTracker().getJobIdsForGroup(
            f"dedup-jobs-{name}"))
        release_checkpoint(kept)
    corpus.unpersist()
    assert counts["near_dedup"] <= 27, counts
    assert counts["near_dedup_against"] <= 49, counts
