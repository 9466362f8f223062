

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


def test_bloom_dedup_against_matches_exact(spark):
    """The Bloom prefilter must be output-invariant: row-identical to
    dedup_against even under an adversarially tiny filter (every
    history row a false positive) and a huge one (no candidates except
    true hits). No-false-negatives is the load-bearing property."""
    import random

    from docling_eval_spark.operators.dedup import (
        bloom_dedup_against, dedup_against)

    rng = random.Random(5)
    texts = [f"doc body {i} " + " ".join(
        rng.choices("abcdefgh", k=6)) for i in range(60)]
    history = spark.createDataFrame(
        [(1000 + i, texts[i]) for i in range(0, 40)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(i, texts[rng.randrange(60)]) for i in range(25)]
        + [(90, texts[3]), (91, texts[3])],   # within-batch family
        ["doc_id", "text"])

    want = sorted(tuple(r) for r in dedup_against(batch, history).collect())
    for n_bits in (64, None, 1 << 20):        # tiny -> default -> huge
        got = sorted(tuple(r) for r in bloom_dedup_against(
            batch, history, n_bits=n_bits).collect())
        assert got == want, n_bits


def test_bloom_build_probe_properties():
    import numpy as np

    from docling_eval_spark.operators.dedup import _bloom_build, _bloom_probe

    rng = np.random.RandomState(2)
    inserted = rng.randint(-2**63, 2**63 - 1, 5000, dtype=np.int64)
    others = rng.randint(-2**63, 2**63 - 1, 5000, dtype=np.int64)
    others = np.setdiff1d(others, inserted)
    n_bits = 1 << 16  # ~13 bits/key
    bits = _bloom_build(inserted, n_bits, k=4)
    # NO false negatives — the correctness-bearing property
    assert _bloom_probe(bits, inserted, n_bits, 4).all()
    # false positives bounded (expected ~0.3% at 13 bits/key, k=4)
    fp = _bloom_probe(bits, others, n_bits, 4).mean()
    assert fp < 0.02, fp


def test_bloom_distributed_build_equals_local(spark):
    """The executor-side sparse-partial build must produce a bitset
    IDENTICAL to the single-pass local build, at any partitioning
    (1 partition, many partitions, partitions that share words)."""
    import numpy as np
    from pyspark.sql import functions as F

    from docling_eval_spark.operators.dedup import (
        _bloom_build, _bloom_build_distributed)

    rng = np.random.RandomState(11)
    hashes = rng.randint(-2**63, 2**63 - 1, 3000, dtype=np.int64)
    for n_bits in (1 << 10, 1 << 16):
        want = _bloom_build(hashes, n_bits, k=4)
        for parts in (1, 7, 32):
            df = spark.createDataFrame(
                [(int(h),) for h in hashes], "_xh long").repartition(parts)
            got = _bloom_build_distributed(df, n_bits, k=4)
            assert np.array_equal(got, want), (n_bits, parts)
    # empty input: all-zero bitset, no crash
    empty = spark.createDataFrame([], "_xh long")
    assert _bloom_build_distributed(empty, 1 << 10, 4).sum() == 0


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
    from docling_eval_spark.operators.dedup import near_dedup_against

    text = "the quick brown fox jumps over the lazy dog end"
    history = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, text + " xdup"), (2, "unrelated short")], ["doc_id", "text"])
    before = _persistent_ids(spark)
    kept = near_dedup_against(batch, history)
    assert [r.doc_id for r in kept.collect()] == [2]
    assert len(_persistent_ids(spark) - before) <= 1


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
