"""Deduplication operators for training-data pipelines.

All scale paths avoid the O(n^2) trap:
  - exact:      one groupBy on a content hash (shuffle on 8-byte keys only).
  - minhash LSH: shingles -> K minhashes -> B bands -> band-bucket self-join
                 (candidate pairs only; a 10^12-doc corpus never compares
                 all pairs). Signatures are computed with numpy inside one
                 Arrow batch UDF; banding/bucketing/joins are native.
  - n-gram Jaccard: exact verify step on LSH candidates (array_intersect /
                 array_union on token shingle arrays — JVM-side).
  - embedding cosine near-dup: see similarity.brute_force_topk.

MinHash LSH is the one text near-duplicate detector: near_dedup,
near_dedup_against and the streaming ingest
(streaming.ingest.start_dedup_ingest) all go through it.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# -- exact ------------------------------------------------------------------


def exact_dedup_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_docs, n_unique, n_dupes) by md5 content hash."""
    h = F.md5(F.encode(F.col(text_col), "utf-8"))
    return df.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count("*") - F.countDistinct(h)).alias("n_dupes"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Keep the min-key representative per identical content (deterministic)."""
    h = F.md5(F.encode(F.col(text_col), "utf-8")).alias("_h")
    w = df.select("*", h)
    keep = w.groupBy("_h").agg(F.min(key).alias(key)).select(key)
    return df.join(keep, on=key, how="left_semi")


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
    """(key, sig: array<bigint>) — numpy-vectorized inside Arrow batches."""
    a, b = _minhash_params(num_hashes)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs = []
            for text in pdf[text_col]:
                sh = _shingle_hashes(text, shingle_n)  # [S]
                # (a*x + b) mod p, min over shingles — vectorized [K,S]
                vals = (a[:, None] * sh[None, :] + b[:, None]) % MERSENNE
                sigs.append(vals.min(axis=1).tolist())
            yield pd.DataFrame({key: pdf[key], "sig": sigs})

    return df.select(key, text_col).mapInPandas(gen, schema=f"{key} bigint, sig array<bigint>")


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
    twice (size aggregate + anti-join) — persist `sigs` upstream so the
    signature UDF runs once (minhash_dedup_pairs does).
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


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", key: str = "doc_id",
                        threshold: float = 0.8,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Full near-dup pipeline: minhash -> LSH candidates -> exact verify.

    The candidate-pair set is persisted while the verify stage consumes
    it three times (member semi-join + both sides of the gram join);
    without the cache each consumer would recompute the whole
    signature+banding subtree. The verify result is computed eagerly —
    it is only (a, b, jaccard) id pairs, tiny relative to the corpus —
    all intermediate caches are released before return, and the
    RETURNED frame stays persisted: the caller owns it and should
    `.unpersist()` when done with it. The lazy plan is the composition
    of minhash_signatures, minhash_lsh_candidates and
    ngram_jaccard_verify."""
    sigs = minhash_signatures(df, text_col, key)
    if max_bucket_size is not None:
        # the bucket-size guard consumes the banded subtree twice; cache
        # signatures so the expensive UDF stage runs once
        sigs = sigs.persist()
    cands = minhash_lsh_candidates(
        sigs, key, max_bucket_size=max_bucket_size).persist()
    # materialize the candidates in their OWN job first: the verify job
    # has three consumers of this frame, and a persist alone does not
    # stop them racing to compute the (expensive signature-UDF) subtree
    # concurrently before the cache fills — measured 3x the signature
    # stage on the first execution
    cands.count()
    out = ngram_jaccard_verify(df, cands, text_col, key,
                               threshold=threshold).persist()
    out.count()  # materialize before releasing the candidate cache
    cands.unpersist()
    if max_bucket_size is not None:
        sigs.unpersist()
    return out


def near_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id",
               threshold: float = 0.8,
               max_bucket_size: int | None = 1000) -> DataFrame:
    """Scale-safe end-to-end near-dedup: returns the KEPT corpus rows.

    1. exact-dedup pre-pass — identical texts collapse to their min-key
       representative FIRST. This is the primary degenerate-bucket guard:
       a 10M-doc family of byte-identical boilerplate (empty pages,
       templated spam) otherwise lands every copy in the same LSH band
       bucket and the candidate self-join goes quadratic on it.
    2. minhash LSH + exact n-gram-Jaccard verify among the unique-text
       representatives, with a per-bucket fan-out cap as the second line
       of defense against NEAR-identical families (see _drop_hot_buckets).
    3. greedy keep-min: every doc appearing as the larger key `b` of a
       verified pair is dropped, so each near-dup chain keeps its
       smallest key — deterministic and expressible in ANSI SQL, which
       is what makes the whole pipeline oracle-checkable.

    Cache discipline: `reps` (the exact-dedup output) is consumed by the
    signature stage, by all three verify-stage readers, and by the final
    anti-join — six corpus-scan + shuffle recomputes without a persist
    (measured 8x slower). It is persisted
    for the pipeline's duration (the distributed-cluster equivalent is
    writing reps to a table); every INTERMEDIATE cache (reps, signatures,
    candidates, pairs) is released before return. The RETURNED kept-
    corpus frame stays persisted and is caller-owned — `.unpersist()` it
    (or let the session end) after writing it out.
    """
    reps = exact_dedup(df, text_col, key).persist()
    pairs = minhash_dedup_pairs(reps, text_col, key, threshold=threshold,
                                max_bucket_size=max_bucket_size)
    drop = pairs.select(F.col("b").alias(key)).distinct()
    out = reps.join(drop, on=key, how="left_anti").persist()
    out.count()  # materialize before releasing the upstream caches
    pairs.unpersist()
    reps.unpersist()
    return out


# -- incremental dedup against an existing corpus -----------------------------


def dedup_against(df: DataFrame, history: DataFrame,
                  text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: drop rows of a new batch whose text
    already exists in a previously-ingested corpus, then collapse
    within-batch exact families to their min-key representative.

    This is the steady-state shape of web ingestion — each new crawl
    dedups against everything already kept, not against itself alone.
    Only 128-bit hashes move: the history side reduces to a distinct
    hash column (a real deployment materializes that hash column once
    at ingest and never rescans history text), the anti-join and the
    min-key groupBy both shuffle hashes + keys only, and map-side
    partial aggregation absorbs the duplicate mass. No text column
    ever crosses an exchange.
    """
    new_h = df.withColumn("_h", F.md5(F.col(text_col)))
    hist_h = history.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    survivors = new_h.join(hist_h, "_h", "left_anti")
    keep = survivors.groupBy("_h").agg(F.min(key).alias(key))
    return survivors.join(keep, ["_h", key], "left_semi").drop("_h")


def _bloom_build(hashes, n_bits: int, k: int):
    """uint64-packed Bloom bitset over 64-bit hashes; the k index
    functions re-mix the hash with splitmix64 round constants
    (public), so no second hash pass over the data is needed."""
    import numpy as np

    bits = np.zeros((n_bits + 63) // 64, dtype=np.uint64)
    _bloom_set(bits, hashes, n_bits, k)
    return bits


def _bloom_set(bits, hashes, n_bits: int, k: int) -> None:
    """OR the k index bits of each hash into an existing bitset."""
    import numpy as np

    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    for i in range(k):
        idx = _bloom_idx(h, i, n_bits)
        np.bitwise_or.at(bits, idx >> 6,
                         np.uint64(1) << (idx & np.uint64(63)))


def _bloom_build_distributed(hashes_df: DataFrame, n_bits: int, k: int):
    """Executor-side Bloom construction: each partition builds a LOCAL
    bitset over its hashes and emits only the non-zero 64-bit words as
    sparse (word_index, word) rows; a bit_or groupBy reduces partials
    across partitions map-side, and the driver assembles the final
    bitset from at most n_bits/64 rows — its memory bound is the
    BITMAP size (what it must broadcast anyway), never the batch size.
    The per-partition sparse emission keeps the shuffle bounded by
    min(k * batch_rows, n_bits/64) words regardless of partitioning.

    `hashes_df` must be a single bigint column named `_xh`.
    """
    import numpy as np
    import pandas as pd

    n_words = (n_bits + 63) // 64

    def partials(it):
        bits = np.zeros(n_words, dtype=np.uint64)
        seen = False
        for pdf in it:
            if len(pdf):
                seen = True
                _bloom_set(bits, pdf["_xh"].to_numpy(), n_bits, k)
        if seen:
            nz = np.nonzero(bits)[0]
            yield pd.DataFrame({"widx": nz.astype(np.int64),
                                "wbits": bits[nz].view(np.int64)})

    words = (hashes_df.mapInPandas(partials, schema="widx long, wbits long")
             .groupBy("widx").agg(F.bit_or("wbits").alias("wbits"))
             .collect())
    bits = np.zeros(n_words, dtype=np.uint64)
    if words:
        idx = np.array([r["widx"] for r in words], dtype=np.int64)
        val = np.array([r["wbits"] for r in words], dtype=np.int64)
        bits[idx] = val.view(np.uint64)
    return bits


def _bloom_idx(h, i: int, n_bits: int):
    import numpy as np

    with np.errstate(over="ignore"):
        x = h + np.uint64(i) * np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(33)
        x *= np.uint64(0xFF51AFD7ED558CCD)
        x ^= x >> np.uint64(33)
    return x % np.uint64(n_bits)


def _bloom_probe(bits, hashes, n_bits: int, k: int):
    """Boolean membership mask (no false negatives, tunable FPs)."""
    import numpy as np

    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    mask = np.ones(len(h), dtype=bool)
    for i in range(k):
        idx = _bloom_idx(h, i, n_bits)
        mask &= (bits[(idx >> 6).astype(np.int64)]
                 >> (idx & np.uint64(63))) & np.uint64(1) != 0
    return mask


def bloom_dedup_against(df: DataFrame, history: DataFrame,
                        text_col: str = "text", key: str = "doc_id",
                        n_bits: int | None = None, k: int = 4) -> DataFrame:
    """dedup_against with a BATCH-SIDE Bloom prefilter on the history
    scan — the memory/shuffle story at 10^12 committed documents.

    dedup_against distincts the FULL history hash column every batch:
    at 10^12 keys that is a corpus-wide shuffle per micro-batch. The
    batch is tiny by comparison, so invert the probe: build a Bloom
    filter over the batch's xxhash64 text hashes (~12 bits/key → a
    10^7-doc batch is a 15 MB broadcast), scan history keeping only
    bloom-POSITIVE rows (one cheap long hash per row, executor-local,
    no shuffle), and run the exact md5 anti-join on that sliver.
    Bloom false positives only admit EXTRA history rows into the exact
    join, and a Bloom filter has no false negatives, so the output is
    ROW-IDENTICAL to dedup_against at any n_bits (the pytest pins
    equality under an adversarially tiny filter); md5 — the expensive
    hash — is computed only for bloom-positive candidates.

    The filter is built EXECUTOR-SIDE (_bloom_build_distributed):
    per-partition sparse bitmap partials bit_or-reduced, so the driver
    only ever holds the final bitset it must broadcast — there is no
    batch-size driver bound (the earlier design collected the batch's
    distinct hashes). Sizing: n_bits defaults to ~12 bits per distinct
    batch hash (FP ~0.3% at k=4), the distinct count taken
    approximately (sizing only — equality holds at ANY n_bits)."""
    import numpy as np

    spark = df.sparkSession
    if n_bits is None:
        n = max(int(df.agg(F.approx_count_distinct(
            F.xxhash64(F.col(text_col)))).first()[0]), 1)
        n_bits = max(1024, 1 << int(np.ceil(np.log2(n * 12.0))))
    bits = _bloom_build_distributed(
        df.select(F.xxhash64(F.col(text_col)).alias("_xh")), n_bits, k)
    bc = spark.sparkContext.broadcast(bits)

    def probe(it):
        for pdf in it:
            mask = _bloom_probe(bc.value, pdf["_xh"].to_numpy(),
                                n_bits, k)
            yield pdf[mask]

    hist_cand = (
        history.select(F.col(text_col).alias("_t"),
                       F.xxhash64(F.col(text_col)).alias("_xh"))
        .mapInPandas(probe, schema="_t string, _xh bigint")
    )
    return dedup_against(df, hist_cand.select(F.col("_t").alias(text_col)),
                         text_col, key)


def near_dedup_against(df: DataFrame, history: DataFrame,
                       text_col: str = "text", key: str = "doc_id",
                       threshold: float = 0.8,
                       max_bucket_size: int | None = None,
                       history_sigs: DataFrame | None = None) -> DataFrame:
    """Incremental NEAR-dedup of a new batch against an existing
    corpus — the steady-state form of near_dedup, in three stages:

      1. exact: drop batch rows whose text hash exists in history,
         collapse within-batch exact families to min key
         (dedup_against — hashes only cross the wire);
      2. vs history: minhash signatures on BOTH sides, banded LSH
         bucket join BETWEEN batch survivors and history (never a
         history self-join — history is only probed), exact n-gram
         Jaccard verify on candidates, drop batch docs matching any
         history doc at >= threshold. History wins by construction:
         the committed copy is kept, the recrawl drops;
      3. within batch: the batch-only near_dedup pair pass
         (keep-min greedy) over what remains.

    Requires batch and history key spaces to be disjoint (true for
    crawl-assigned global ids; the verify join unions both sides).

    `history_sigs` is the steady-state scale lever: a persisted
    (key, sig) table produced by minhash_signatures WITH THE SAME
    text/key semantics (the signature family is deterministic, so a
    table written at ingest time probes identically forever). Without
    it the operator re-runs the minhash Python stage over the FULL
    history — one extra scan in batch form, but a per-trigger
    O(history) GEMM when called from a streaming loop at a 10^12-doc
    committed corpus. With it, history text is touched only by (a) the
    exact stage's hash projection and (b) the Jaccard verify, which
    materializes grams solely for candidate-pair members (semi-join
    first — see ngram_jaccard_verify). start_dedup_ingest maintains
    this table incrementally (signatures_path). Store rows whose key
    belongs to the batch are ignored, so a store that already holds a
    replayed batch's own signatures changes nothing. Output is
    row-identical either way (pinned by pytest).

    Stage boundaries use localCheckpoint, not persist: each later
    stage embeds the earlier frame's LOGICAL subtree several times
    (the verify joins it twice, the within-batch pair pass three
    more), so without lineage truncation the composed plan grows
    multiplicatively and the driver OOMs planning the final anti-join
    — the same failure mode dup_components hit iteratively. The
    checkpointed frames are one crawl batch, not the corpus. Each is
    released once the next is materialized, and the within-batch pairs
    once the result is: only the returned frame's checkpoint remains.
    """
    reps = dedup_against(df, history, text_col=text_col, key=key)
    reps = reps.localCheckpoint()
    bsig = minhash_signatures(reps, text_col, key)
    if history_sigs is not None:
        # a batch replayed after its signatures were stored but before
        # its output was appended finds itself in the store; probing
        # those rows would verify every survivor at Jaccard 1.0 against
        # itself, so the batch's own keys are cut from the store first
        hsig = history_sigs.select(key, "sig") \
            .join(reps.select(key), key, "left_anti")
    else:
        hsig = minhash_signatures(history, text_col, key)
    bb = _drop_hot_buckets(
        banded_signatures(bsig, key), max_bucket_size)
    hb = _drop_hot_buckets(
        banded_signatures(hsig, key), max_bucket_size)
    cand = (
        bb.alias("l").join(hb.alias("r"), on=["band", "bucket"])
        .select(F.col(f"l.{key}").alias("a"),
                F.col(f"r.{key}").alias("b"))
        .distinct()
    )
    both = reps.select(key, text_col).unionByName(
        history.select(key, text_col))
    matched = (
        ngram_jaccard_verify(both, cand, text_col, key,
                             threshold=threshold)
        .select(F.col("a").alias(key)).distinct()
    )
    survivors = reps.join(matched, key, "left_anti").localCheckpoint()
    release_checkpoint(reps)  # survivors is materialized from it
    pairs = minhash_dedup_pairs(survivors, text_col, key,
                                threshold=threshold,
                                max_bucket_size=max_bucket_size)
    drop = pairs.select(F.col("b").alias(key)).distinct()
    out = survivors.join(drop, key, "left_anti").localCheckpoint()
    pairs.unpersist()
    release_checkpoint(survivors)  # out is materialized from both
    return out


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
