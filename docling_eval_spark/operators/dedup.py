"""Deduplication operators for training-data pipelines.

All scale paths avoid the O(n^2) trap:
  - exact:      one groupBy on a content hash (hashes and keys only).
  - minhash LSH: shingles -> K minhashes -> B bands -> band-bucket self-join
                 (candidate pairs only; a 10^12-doc corpus never compares
                 all pairs). Signatures are computed with numpy in one
                 per-row Python stage; banding/bucketing/joins are native.
  - n-gram Jaccard: exact verify step on LSH candidates (array_intersect /
                 array_union on token shingle arrays — JVM-side).
  - embedding cosine near-dup: see similarity.brute_force_topk.

MinHash LSH is the one text near-duplicate detector, and
near_dedup_pipeline is the one near-dedup pipeline: near_dedup runs it
with no history, near_dedup_against with one, and the streaming ingest
(streaming.ingest.start_dedup_ingest) also stores the signatures it
computed. A row whose text is NULL passes through every stage: it is
never collapsed, never signed and never a duplicate.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import row_stage

# -- exact ------------------------------------------------------------------


def exact_dedup_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_docs, n_unique, n_dupes) by md5 content hash: the rows
    exact_dedup keeps and drops, so each NULL text counts as unique."""
    h = F.md5(F.col(text_col))
    return df.agg(
        F.count("*").alias("n_docs"),
        (F.countDistinct(h) + F.count("*") - F.count(h)).alias("n_unique"),
        (F.count(h) - F.countDistinct(h)).alias("n_dupes"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Keep the min-key representative per identical content (deterministic).
    A row whose text is NULL is always kept."""
    return _keep_min_key(df.withColumn("_h", F.md5(F.col(text_col))), key)


def _keep_min_key(hashed: DataFrame, key: str) -> DataFrame:
    """The one collapse rule, over rows carrying their md5 text hash `_h`:
    each hash keeps its min-key row. A NULL hash (a NULL text) groups
    with its own key only, so its row is always kept. The groupBy moves
    hashes and keys only. Returns the kept rows without `_h`."""
    h = F.col("_h")
    keep = (hashed.groupBy(h, F.when(h.isNull(), F.col(key)).alias("_n"))
            .agg(F.min(key).alias(key)).select(key))
    return hashed.join(keep, key, "left_semi").drop("_h")


# -- shingles / minhash -------------------------------------------------------

MERSENNE = (1 << 61) - 1


def _minhash_params(k: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE, size=k, dtype=np.int64)
    b = rng.randint(0, MERSENNE, size=k, dtype=np.int64)
    return a, b


_P1 = np.int64(1_000_003)  # polynomial base for vectorized gram combining


def _shingle_hashes(text: str, n: int,
                    _cache: dict = {}) -> np.ndarray:  # noqa: B006 (worker-lifetime memo)
    """Unique 61-bit hashes of word n-grams, vectorized.

    Per-TOKEN blake2b (memoized across the Arrow batch/worker lifetime —
    natural-language token frequencies are Zipf, so the cache hit rate is
    high), then n-gram hashes combined arithmetically over the token-hash
    array with numpy — no per-gram string building or hashing.
    """
    toks = text.split()
    if len(toks) < n:
        g = " ".join(toks) if toks else ""
        v = int.from_bytes(hashlib.blake2b(g.encode(), digest_size=8).digest(),
                           "big") >> 3
        return np.array([v], dtype=np.int64)
    if len(_cache) > 2_000_000:
        _cache.clear()
    th = np.empty(len(toks), dtype=np.int64)
    for i, t in enumerate(toks):
        v = _cache.get(t)
        if v is None:
            v = int.from_bytes(
                hashlib.blake2b(t.encode(), digest_size=8).digest(), "big") >> 3
            _cache[t] = v
        th[i] = v
    acc = th[: len(toks) - n + 1].copy()
    with np.errstate(over="ignore"):
        for k in range(1, n):
            acc = acc * _P1 + th[k: len(toks) - n + 1 + k]
    return np.unique(acc >> np.int64(3) & np.int64((1 << 61) - 1))


def minhash_signatures(df: DataFrame, text_col: str = "text", key: str = "doc_id",
                       num_hashes: int = 128, shingle_n: int = 3) -> DataFrame:
    """(key, sig: array<bigint>) for each row whose text is not NULL, in
    one per-row Python stage (`MapInPandas _minhash`, numpy-vectorized
    over a row's shingles). The key keeps its dtype: WARC corpora carry
    md5-hex string ids."""
    a, b = _minhash_params(num_hashes)

    def _minhash(k, text):
        sh = _shingle_hashes(text, shingle_n)  # [S]
        # (a*x + b) mod p, min over shingles — vectorized [K,S]
        yield k, ((a[:, None] * sh[None, :] + b[:, None]) % MERSENNE).min(axis=1).tolist()

    texts = df.select(key, text_col).where(F.col(text_col).isNotNull())
    return row_stage(texts, _minhash, f"{key} {dict(df.dtypes)[key]}, sig array<bigint>")


def banded_signatures(sigs: DataFrame, key: str,
                      bands: int = 32, rows_per_band: int = 4) -> DataFrame:
    """(key, band, bucket) — ONE definition of the LSH band keys, shared
    by the batch self-join and the batch-vs-history probe so the two can
    never desynchronize their bucket assignment."""
    return sigs.select(
        key,
        F.posexplode(
            F.array(*[
                F.xxhash64(F.lit(i), F.slice("sig", i * rows_per_band + 1,
                                             rows_per_band))
                for i in range(bands)
            ])
        ).alias("band", "bucket"),
    )


def hot_buckets(banded: DataFrame, max_bucket_size: int,
                bucket_cols: tuple[str, str] = ("band", "bucket")) -> DataFrame:
    """(bucket_cols..., n) for every LSH bucket whose membership exceeds the
    cap — the drop-accounting side of the degenerate-bucket guard. Callers
    that enable a cap should materialize/log this frame so dropped candidate
    volume is visible, never silent."""
    return (
        banded.groupBy(*bucket_cols).agg(F.count("*").alias("n"))
        .where(F.col("n") > max_bucket_size)
    )


def _drop_hot_buckets(banded: DataFrame, max_bucket_size: int | None,
                      bucket_cols: tuple[str, str] = ("band", "bucket")) -> DataFrame:
    """Degenerate-bucket guard: a bucket with B members yields B^2/2 candidate
    pairs, so one massive family of identical/boilerplate documents (empty
    pages, templated spam — routine in Common-Crawl) turns the self-join
    quadratic. Buckets above the cap are anti-joined away (the hot set is
    tiny — broadcast). Recall note: exact duplicates should be collapsed
    FIRST (see near_dedup); after that, a >cap bucket is boilerplate noise
    whose pairs the verify stage would mostly reject anyway."""
    if max_bucket_size is None:
        return banded
    hot = hot_buckets(banded, max_bucket_size, bucket_cols) \
        .select(*bucket_cols)
    return banded.join(F.broadcast(hot), on=list(bucket_cols), how="left_anti")


def minhash_lsh_candidates(sigs: DataFrame, key: str = "doc_id",
                           bands: int = 32, rows_per_band: int = 4,
                           max_bucket_size: int | None = None) -> DataFrame:
    """Banded LSH: equal band-slices -> candidate pairs (a < b).

    Shuffle cost: bands x n rows of (16-byte key, hash) — never quadratic.
    Band geometry is tuned to the verify threshold: with K=128 hashes,
    b=32/r=4 gives detection probability 1-(1-J^4)^32 ≈ 1-5e-8 at J=0.8
    (vs ~0.95 for b=16/r=8, which deterministically MISSES borderline
    pairs). The extra sub-threshold candidates this admits are discarded
    by the exact Jaccard verify, trading bounded extra compute for recall.

    `max_bucket_size` enables the degenerate-bucket guard (see
    _drop_hot_buckets). With the guard on, the banded subtree is consumed
    twice (size aggregate + anti-join) — materialize `sigs` upstream so
    the signature stage runs once (minhash_dedup_pairs and
    near_dedup_pipeline do).
    """
    banded = _drop_hot_buckets(
        banded_signatures(sigs, key, bands, rows_per_band), max_bucket_size)
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(r, on=["band", "bucket"])
        .where(F.col(f"l.{key}") < F.col(f"r.{key}"))
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"))
        .distinct()
    )


def ngram_jaccard_verify(df: DataFrame, candidates: DataFrame,
                         text_col: str = "text", key: str = "doc_id",
                         shingle_n: int = 3, threshold: float = 0.8) -> DataFrame:
    r"""Exact n-gram Jaccard on candidate pairs (array ops, JVM-side).

    Tokenization is trim + split on \s+ — identical to both the minhash
    signature tokenizer (Python str.split) and the SQL oracle
    (string_split_regex(trim(x))); without the trim, leading/trailing
    whitespace manufactures empty tokens and phantom grams.

    Scale note: gram arrays are built only for docs that actually appear
    in a candidate pair (semi-join first) — at corpus scale the candidate
    set covers a small fraction of documents, so the expensive shingle
    materialization never runs over the full table."""
    member = (
        candidates.select(F.col("a").alias(key))
        .unionByName(candidates.select(F.col("b").alias(key)))
        .distinct()
    )
    df = df.join(member, on=key, how="left_semi")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(F.size(toks) < shingle_n, F.array(F.col(text_col))).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - shingle_n),
            lambda i: F.array_join(F.slice(toks, i + 1, shingle_n), " "),
        )
    )
    sh = df.select(F.col(key), F.array_distinct(grams).alias("grams"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    joined = (
        candidates.join(a, candidates.a == F.col(f"sa.{key}"))
        .join(b, candidates.b == F.col(f"sb.{key}"))
        .select(
            "a", "b",
            (F.size(F.array_intersect("sa.grams", "sb.grams")).cast("double")
             / F.size(F.array_union("sa.grams", "sb.grams"))).alias("jaccard"),
        )
    )
    return joined.where(F.col("jaccard") >= threshold)


def _verified_pairs(df: DataFrame, sigs: DataFrame, text_col: str, key: str,
                    threshold: float, max_bucket_size: int | None
                    ) -> tuple[DataFrame, DataFrame]:
    """The pair step: LSH candidates among the signed rows `sigs`, verified
    by exact n-gram Jaccard over `df`'s texts. `sigs` must already be
    materialized, so that every reader of the banded subtree reads the
    stored signatures, not the signature stage. Returns (pairs, cands):
    the lazy verified pairs and the candidates they read, a local
    checkpoint because the verify reads them three times (recomputed per
    reader, near_dedup at sf0.1 took 1.6x as long); free `cands` with
    release_checkpoint once `pairs` is materialized."""
    cands = minhash_lsh_candidates(
        sigs, key, max_bucket_size=max_bucket_size).localCheckpoint()
    return ngram_jaccard_verify(df, cands, text_col, key,
                                threshold=threshold), cands


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", key: str = "doc_id",
                        threshold: float = 0.8,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Full near-dup pair pipeline: minhash -> LSH candidates -> exact
    verify. `df` is signed once into a local checkpoint, then the pair
    step of near_dedup_pipeline runs over it. Returns the verified
    (a, b, jaccard) id pairs — tiny relative to the corpus — as a local
    checkpoint, as near_dedup returns its rows; free it with
    release_checkpoint. The lazy plan is the composition of
    minhash_signatures, minhash_lsh_candidates and ngram_jaccard_verify."""
    sigs = minhash_signatures(df, text_col, key).localCheckpoint()
    pairs, cands = _verified_pairs(df, sigs, text_col, key, threshold,
                                   max_bucket_size)
    out = pairs.localCheckpoint()
    release_checkpoint(cands)
    release_checkpoint(sigs)
    return out


# -- the near-dedup pipeline --------------------------------------------------


def dedup_against(df: DataFrame, history: DataFrame,
                  text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: drop rows of a new batch whose text
    already exists in a previously-ingested corpus, then collapse
    within-batch exact families by exact_dedup's rule.

    This is the steady-state shape of web ingestion — each new crawl
    dedups against everything already kept, not against itself alone.
    The history side reduces to a distinct md5 hash column (a real
    deployment materializes that hash column once at ingest and never
    rescans history text); the anti-join and the min-key groupBy both
    shuffle hashes and keys, and map-side partial aggregation absorbs
    the duplicate mass.
    """
    hist = history.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    fresh = df.withColumn("_h", F.md5(F.col(text_col))) \
        .join(hist, "_h", "left_anti")
    return _keep_min_key(fresh, key)


def near_dedup_pipeline(df: DataFrame, history: DataFrame | None,
                        text_col: str = "text", key: str = "doc_id",
                        threshold: float = 0.8,
                        max_bucket_size: int | None = None,
                        history_sigs: DataFrame | None = None
                        ) -> tuple[DataFrame, DataFrame]:
    """Near-dedup of a new batch, alone (`history` None) or against an
    existing corpus. Returns (kept, sigs): the kept batch rows, and the
    (key, sig) signatures of every batch row the exact stage kept. Both
    are local checkpoints; free them with release_checkpoint.

      1. exact: exact_dedup with no history, else dedup_against —
         identical texts collapse to their min-key representative FIRST.
         This is the primary degenerate-bucket guard: a 10M-doc family
         of byte-identical boilerplate otherwise lands every copy in the
         same LSH band bucket and the candidate self-join goes quadratic.
      2. sign: each surviving row is signed once (minhash_signatures).
         The history probe, the within-batch pass and the streaming
         signature store all read these signatures.
      3. vs history: banded LSH bucket join BETWEEN the batch and history
         signatures (never a history self-join — history is only
         probed), exact n-gram Jaccard verify on candidates, drop batch
         docs matching any history doc at >= threshold. History wins by
         construction: the committed copy is kept, the recrawl drops.
      4. within batch: the pair step over what remains, with the
         per-bucket fan-out cap counted over those rows only (the second
         line of defense, against NEAR-identical families; see
         _drop_hot_buckets); then greedy keep-min: every doc appearing as
         the larger key `b` of a verified pair drops, so each near-dup
         chain keeps its smallest key — deterministic and expressible in
         ANSI SQL, which makes the pipeline oracle-checkable.

    Requires batch and history key spaces to be disjoint (true for
    crawl-assigned global ids; the verify join unions both sides).

    `history_sigs` is the steady-state scale lever: a (key, sig) table
    produced by minhash_signatures WITH THE SAME text/key semantics (the
    signature family is deterministic, so a table written at ingest time
    probes identically forever). Without it the history is signed on
    every call — a per-trigger O(history) stage when called from a
    streaming loop at a 10^12-doc committed corpus. With it, history
    text is touched only by the exact stage's hash projection and the
    Jaccard verify, which materializes grams solely for candidate-pair
    members. Store rows whose key belongs to the batch are ignored, so a
    store that already holds a replayed batch's own signatures changes
    nothing. Output is row-identical either way.

    Stage boundaries use localCheckpoint, not persist: each later stage
    embeds the earlier frame's LOGICAL subtree several times (the verify
    joins it twice, the within-batch pass three more), so without
    lineage truncation the composed plan grows multiplicatively and the
    driver OOMs planning the final anti-join. The checkpointed frames
    are one crawl batch, not the corpus. Each is released once the next
    is materialized.
    """
    reps = (exact_dedup(df, text_col, key) if history is None
            else dedup_against(df, history, text_col, key)).localCheckpoint()
    sigs = minhash_signatures(reps, text_col, key).localCheckpoint()
    survivors, own = reps, sigs
    if history is not None:
        matched = _history_matches(reps, sigs, history, history_sigs,
                                   text_col, key, threshold, max_bucket_size)
        survivors = reps.join(matched, key, "left_anti").localCheckpoint()
        release_checkpoint(reps)  # survivors is materialized from it
        own = sigs.join(survivors.select(key), key, "left_semi")
    pairs, cands = _verified_pairs(survivors, own, text_col, key, threshold,
                                   max_bucket_size)
    drop = pairs.select(F.col("b").alias(key)).distinct()
    kept = survivors.join(drop, key, "left_anti").localCheckpoint()
    release_checkpoint(cands)
    release_checkpoint(survivors)  # kept is materialized from both
    return kept, sigs


def _history_matches(reps: DataFrame, sigs: DataFrame, history: DataFrame,
                     history_sigs: DataFrame | None, text_col: str, key: str,
                     threshold: float, max_bucket_size: int | None) -> DataFrame:
    """(key) of the batch rows `reps`, signed as `sigs`, that are near
    duplicates of a history text (stage 3 of near_dedup_pipeline)."""
    if history_sigs is None:
        hsig = minhash_signatures(history, text_col, key)
    else:
        # a batch replayed after its signatures were stored but before
        # its output was appended finds itself in the store; probing
        # those rows would verify every survivor at Jaccard 1.0 against
        # itself, so the batch's own keys are cut from the store first
        hsig = history_sigs.select(key, "sig") \
            .join(reps.select(key), key, "left_anti")
    bb = _drop_hot_buckets(banded_signatures(sigs, key), max_bucket_size)
    hb = _drop_hot_buckets(banded_signatures(hsig, key), max_bucket_size)
    cand = (
        bb.alias("l").join(hb.alias("r"), on=["band", "bucket"])
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"))
        .distinct()
    )
    both = reps.select(key, text_col).unionByName(history.select(key, text_col))
    return (ngram_jaccard_verify(both, cand, text_col, key, threshold=threshold)
            .select(F.col("a").alias(key)).distinct())


def near_dedup_against(df: DataFrame, history: DataFrame | None,
                       text_col: str = "text", key: str = "doc_id",
                       threshold: float = 0.8,
                       max_bucket_size: int | None = None,
                       history_sigs: DataFrame | None = None) -> DataFrame:
    """Incremental NEAR-dedup of a new batch against an existing corpus
    (`history`; None for the batch alone): the kept rows of
    near_dedup_pipeline, a local checkpoint to free with
    release_checkpoint once consumed. Only that checkpoint remains."""
    kept, sigs = near_dedup_pipeline(df, history, text_col, key, threshold,
                                     max_bucket_size, history_sigs)
    release_checkpoint(sigs)
    return kept


def near_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id",
               threshold: float = 0.8,
               max_bucket_size: int | None = 1000) -> DataFrame:
    """Scale-safe end-to-end near-dedup of one corpus: near_dedup_against
    with no history, the bucket cap on by default. Returns the KEPT
    corpus rows as a local checkpoint; free it with release_checkpoint
    after writing it out."""
    return near_dedup_against(df, None, text_col, key, threshold,
                              max_bucket_size)


# -- duplicate-cluster connected components -----------------------------------


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD under a localCheckpoint'ed frame.

    ``DataFrame.unpersist`` and ``spark.catalog.clearCache`` only reach
    cached plans; a local checkpoint is a persisted RDD under the plan's
    ``LogicalRDD`` leaf."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def dup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over candidate duplicate pairs: every node
    gets the minimum key reachable from it as its cluster id — the
    union-find step a web-dedup pipeline runs after LSH so that whole
    duplicate FAMILIES collapse to one canonical document (a greedy
    pair drop can over- or under-delete chained near-dups).

    Distributed algorithm: min-label propagation with pointer doubling
    (the star-contraction family of Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"). Each round (1) pulls every
    neighbor's label and keeps the min, then (2) short-circuits
    l(u) <- l(l(u)), so label distance halves per round on top of the
    one-hop pull: O(log diameter) rounds, and dup clusters are
    near-cliques with tiny diameters. Every round is two keyed
    shuffles over (node, component) ints only — document text never
    enters the loop. Each round ends in localCheckpoint(eager=True):
    persist alone does NOT truncate the logical plan of an iterative
    job, and the union+self-join structure doubles the tree per round
    until the driver OOMs planning it (hit in this repo's tests at a
    33-node path). A cluster deployment would swap in reliable
    `checkpoint()` so labels survive executor loss. Each round's
    checkpoint is released once the next round is materialized, so only
    the returned frame's stays. Convergence = zero labels changed;
    `max_iter` is a backstop.

    Input: pairs with columns (a, b). Returns (node, component) for
    every node appearing in any pair; callers re-attach singletons
    with a left join + coalesce.
    """
    edges = (
        pairs.select("a", "b")
        .unionByName(pairs.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
        .distinct()
        # hash-partition ONCE by the pull-join key: the cached layout
        # satisfies the join's required distribution every round, so
        # only the (much smaller) label side shuffles per iteration
        .repartition(F.col("b"))
        .persist()
    )
    edges.count()
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    # Convergence probe: labels are non-increasing per node, so the sum
    # is strictly decreasing until the fixed point — one scalar agg per
    # round instead of a join + count, and the same agg job is what
    # materializes the round's (lazy) localCheckpoint.
    prev_sum = labels.agg(F.sum("component")).first()[0]
    for _ in range(max_iter):
        pulled = (
            edges.join(labels, edges["b"] == labels["node"])
            .select(edges["a"].alias("node"), "component")
        )
        merged = (
            labels.unionByName(pulled)
            .groupBy("node").agg(F.min("component").alias("component"))
        )
        # pointer doubling: follow the label one more step
        tgt = merged.select(F.col("node").alias("_t"),
                            F.col("component").alias("_tc"))
        new_labels = (
            merged.join(tgt, merged["component"] == F.col("_t"), "left")
            .select("node",
                    F.least(F.coalesce(F.col("_tc"), F.col("component")),
                            F.col("component")).alias("component"))
            .localCheckpoint(eager=False)
        )
        cur_sum = new_labels.agg(F.sum("component")).first()[0]
        release_checkpoint(labels)  # superseded: new_labels is materialized
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels


# -- deterministic near-dup corpus derivation (for gates/benchmarks) ----------


def with_near_dups(df: DataFrame, text_col: str = "text",
                   key: str = "doc_id") -> DataFrame:
    """Deterministically amplify a corpus with duplicate families:

      - every key % 3 == 0 doc gains a NEAR copy (key + 1e9) with one token
        appended — token-shingle Jaccard (W-2)/W for a W-token doc;
      - every key % 7 == 0 doc gains an EXACT copy (key + 2e9).

    Native column ops only (unionByName of three projections); the derived
    corpus is reproducible in ANSI SQL, which is what makes the near-dup
    pipelines oracle-checkable end to end.
    """
    near = (
        df.where(F.col(key) % 3 == 0)
        .withColumn(key, F.col(key) + F.lit(1_000_000_000))
        .withColumn(text_col, F.concat(F.col(text_col), F.lit(" xdup")))
    )
    exact = df.where(F.col(key) % 7 == 0) \
        .withColumn(key, F.col(key) + F.lit(2_000_000_000))
    return df.unionByName(near).unionByName(exact)
