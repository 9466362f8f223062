"""Similarity search over embedding columns (array<float>).

  brute_force_topk: exact cosine top-k — broadcast the (small) query set,
    score every corpus vector with native higher-order functions
    (F.aggregate/F.zip_with — JVM-side, no Python), window top-k.
    The baseline and the verifier for the approximate paths.

Scale note: brute_force_topk is a broadcast-nested-loop by construction —
correct ONLY when the query side is small (it is: similarity search, not
all-pairs). All-pairs near-dup goes through dedup's MinHash LSH instead.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(a, b):  # Column[array<double>] x Column[array<double>] -> Column
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine), deterministic
    ordering (cosine desc, neighbor_id asc), self-matches excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                _cosine(F.col("qv"), F.col("cv")).alias("_c"))
    )
    return _topk_rounded(scored, k)


def _topk_rounded(scored: DataFrame, k: int) -> DataFrame:
    """Top-k on the UNROUNDED cosine (matching SQL oracles that rank raw
    and round only the projection); rounding before ranking can flip the
    rank-k boundary when raw gaps are below the rounding quantum."""
    w = Window.partitionBy("query_id").orderBy(F.desc("_c"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("_c", 4).alias("cosine"),
                "_c")
        .orderBy("query_id", F.desc("_c"), "neighbor_id")
        .drop("_c")
    )


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_signature(vec_col, planes: list[list[float]]):
    """B-bit random-hyperplane signature as a bigint column (JVM-side).

    Expression-tree form: B planes x dim literal nodes per signature
    column — fine at toy dims, a plan-size/codegen bomb at real embedding
    dims (768+). Production paths use with_lsh_signature (Arrow GEMM);
    this stays as the independent cross-check the pytest pins the two
    implementations against each other with.
    """
    bits = []
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(F.zip_with(vec_col, arr, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("bigint")


def with_lsh_signature(df: DataFrame, vec_col: str,
                       planes: list[list[float]],
                       out_col: str = "bucket") -> DataFrame:
    """Append the B-bit hyperplane signature via one numpy GEMM per Arrow
    batch (same pattern as _assign_buckets). Plan size is independent of
    the embedding dim — the hyperplane matrix ships once per task in the
    serialized closure, not as 6k+ literal expression nodes."""
    import pandas as pd

    from pyspark.sql import types as T

    P = np.asarray(planes, dtype=np.float64)          # [B, dim]
    weights = (1 << np.arange(P.shape[0], dtype=np.int64))
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())])

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype="int64")
                yield pdf
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            pdf[out_col] = ((V @ P.T) > 0).astype(np.int64) @ weights
            yield pdf

    return df.mapInPandas(gen, schema=schema)


def with_scaled_copies(corpus: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Deterministic near-dup derivation for gates/benchmarks: every vector
    gains a x2-scaled copy (id + 1e9) — cosine exactly 1, so the qualifying
    pair set is reproducible in ANSI SQL."""
    copies = corpus.withColumn(id_col, F.col(id_col) + F.lit(1_000_000_000)) \
        .withColumn(vec_col, F.transform(F.col(vec_col), lambda x: x * 2.0))
    return corpus.unionByName(copies)


def auto_n_planes(n_rows: int, target_bucket: int = 64,
                  floor: int = 8, ceil: int = 30) -> int:
    """Scale the hyperplane count with the corpus so the EXPECTED bucket
    occupancy stays ~`target_bucket`: B = log2(n / target). 8 planes is
    256 buckets — fine at 10^4 vectors, quadratic suicide at 10^9; a
    10^12-vector corpus gets 2^30 buckets (signature stays one bigint)."""
    import math

    if n_rows <= target_bucket:
        return floor
    return max(floor, min(ceil, math.ceil(math.log2(n_rows / target_bucket))))


def embedding_hot_buckets(corpus: DataFrame, max_bucket_size: int,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          dim: int | None = None, n_planes: int | None = None,
                          seed: int = 7) -> DataFrame:
    """(bucket, n) for every hyperplane-LSH bucket above the cap — the
    drop-accounting twin of lsh_near_dup_pairs(max_bucket_size=...):
    callers that enable the cap materialize/log this frame so dropped
    candidate volume is visible, never silent (same contract as
    dedup.hot_buckets for the minhash path)."""
    from .dedup import hot_buckets

    v, _ = _signed_corpus(corpus, id_col, vec_col, dim, n_planes, seed)
    return hot_buckets(v, max_bucket_size, bucket_cols=("bucket",))


def _signed_corpus(corpus: DataFrame, id_col: str, vec_col: str,
                   dim: int | None, n_planes: int | None, seed: int):
    """(id, v, bucket) with the shared signature semantics; resolves
    dim (first-row probe) and n_planes (auto_n_planes on a corpus
    count) so the pair path and the accounting path can never
    desynchronize their bucket assignment."""
    if dim is None:
        dim = int(corpus.select(F.size(vec_col)).first()[0])
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count())
    planes = _random_planes(dim, n_planes, seed)
    v = corpus.select(F.col(id_col).alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    return with_lsh_signature(v, "v", planes), n_planes


def lsh_near_dup_pairs(corpus: DataFrame, threshold: float = 0.9999,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       dim: int | None = None, n_planes: int | None = None,
                       seed: int = 7,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup: all pairs (a < b) with cosine >= threshold,
    candidates restricted to equal random-hyperplane LSH buckets.

    The bucket self-join replaces the all-pairs cross product: shuffle is
    one row per vector keyed by a B-bit signature, candidate volume is
    sum of squared bucket sizes — never quadratic in the corpus when the
    two guards hold:

      * `n_planes` (default: auto_n_planes on a corpus count) scales the
        bucket count with the corpus, so the MEAN occupancy stays small;
      * real embedding corpora are CLUSTERED, so signatures concentrate
        regardless of the mean — `max_bucket_size` anti-joins away any
        bucket whose membership exceeds the cap (the same degenerate-
        bucket guard as dedup._drop_hot_buckets; the hot set is tiny and
        broadcasts). Use embedding_hot_buckets(...) with identical
        parameters for the drop accounting. The library default is
        max_bucket_size=None — EXHAUSTIVE within buckets — because a
        silent cap changes callers' output; corpus-scale deployments
        MUST pass a cap (100_000 is the pipeline default, see
        __spark_entry__ embedding_near_dup) or a single degenerate
        bucket goes quadratic. When a cap is set, the signature GEMM is
        persisted and the cache feeds the returned plan: release it
        with operators.caching.release_caches(result) after consuming
        (long-lived sessions accumulate one cached frame per call
        otherwise).

    Parallel vectors hash to identical signatures, so exact-duplicate
    (including scaled) pairs are ALWAYS candidates — unless their whole
    family exceeds the cap, in which case collapsing exact duplicates
    FIRST (as dedup.near_dedup does) is the supported pattern.
    """
    from .caching import track_caches
    from .dedup import _drop_hot_buckets

    v, _ = _signed_corpus(corpus, id_col, vec_col, dim, n_planes, seed)
    sig_cache = None
    if max_bucket_size is not None:
        # the signed frame feeds the hot-bucket aggregate, the anti-join
        # AND both sides of the self-join: materialize the signature GEMM
        # once in its own job (persist alone does not stop concurrent
        # first computations racing — see operators/dedup.py)
        v = v.persist()
        sig_cache = v
        v.count()
    v = _drop_hot_buckets(v, max_bucket_size, bucket_cols=("bucket",))
    l, r = v.alias("l"), v.alias("r")
    out = (
        l.join(r, on="bucket")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                F.round(_cosine(F.col("l.v"), F.col("r.v")), 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
    return track_caches(out, sig_cache) if sig_cache is not None else out


# -- IVF (inverted-file) approximate nearest neighbor ------------------------
#
# The coarse-quantizer path for 10^12-vector corpora: k centroids trained
# with a few distributed Lloyd iterations, every vector assigned to its
# nearest centroid (one numpy GEMM per Arrow batch — no per-row Python),
# queries probe only the nprobe nearest centroid buckets. Candidate volume
# per query drops from |corpus| to ~|corpus| * nprobe / k. With
# nprobe == n_clusters the search is EXACT (identical to brute force) —
# the property the tests pin down; recall-vs-probe tradeoffs ride on top.


def _assign_buckets(df: DataFrame, centroids: "np.ndarray", id_col: str,
                    vec_col: str, nprobe: int = 1) -> DataFrame:
    """(id, vec, bucket...) via argmax-cosine against broadcast centroids.
    nprobe > 1 emits one row per probed bucket (query side)."""
    import pandas as pd

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    def gen(it):
        for pdf in it:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            sims = Vn @ cn.T                        # [B, k]
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), nprobe),
                vec_col: [v for v in pdf[vec_col] for _ in range(nprobe)],
                "bucket": order.reshape(-1),
            })

    return df.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} bigint, {vec_col} array<double>, bucket int")


def ivf_train(corpus: DataFrame, n_clusters: int = 16, iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding") -> "np.ndarray":
    """Deterministic distributed Lloyd: init = per-hash-group min-id
    vectors (a k-group partial+final `min_by` aggregate — no global sort;
    the previous `orderBy(id).limit(k)` sorted the whole corpus to pick k
    rows); each iteration assigns (GEMM batches) and re-averages
    per-bucket via a native posexplode + groupBy partial+final aggregate."""
    base = corpus.select(F.col(id_col).alias(id_col),
                         _as_double(F.col(vec_col)).alias(vec_col))
    # 8x finer hash grouping than clusters: one min_by partial+final
    # aggregate yields up to 8k candidate rows, from which the k
    # smallest ids become centroids — deterministic, and the empty-
    # hash-group shortfall (a k-group pmod leaves ~e^-n/k groups empty)
    # is vanishingly rare at 8k groups. If it still happens, fall back
    # to the exact orderBy(id).limit(k) global sort rather than silently
    # returning fewer clusters than asked.
    init = (
        base.groupBy(F.pmod(F.xxhash64(F.col(id_col)),
                            F.lit(8 * n_clusters)).alias("_g"))
        .agg(F.min_by(vec_col, F.col(id_col)).alias(vec_col),
             F.min(id_col).alias("_id"))
        .orderBy("_id")
        .limit(n_clusters)
        .collect()
    )
    # short-circuit: the corpus-count scan only runs on an actual
    # shortfall (vanishingly rare), not on every training call
    if len(init) < n_clusters and len(init) < base.count():  # pragma: no cover
        init = base.orderBy(id_col).limit(n_clusters).collect()
    centroids = np.array([r[vec_col] for r in init], dtype=np.float64)
    for _ in range(iters):
        assigned = _assign_buckets(base, centroids, id_col, vec_col)
        means = (
            assigned.select("bucket", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("bucket", "pos").agg(F.avg("x").alias("m"))
            .collect()
        )
        new = centroids.copy()
        for r in means:
            new[r["bucket"], r["pos"]] = r["m"]
        centroids = new
    return centroids


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 3,
             n_clusters: int = 16, nprobe: int = 4, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: "np.ndarray | None" = None) -> DataFrame:
    """IVF ANN top-k: score only vectors in the query's nprobe buckets."""
    base_c = corpus.select(F.col(id_col).alias("neighbor_id"),
                           _as_double(F.col(vec_col)).alias("cv"))
    base_q = queries.select(F.col(id_col).alias("query_id"),
                            _as_double(F.col(vec_col)).alias("qv"))
    if centroids is None:
        centroids = ivf_train(corpus, n_clusters, iters, id_col, vec_col)
    c_assigned = _assign_buckets(base_c, centroids, "neighbor_id", "cv")
    q_probes = _assign_buckets(base_q, centroids, "query_id", "qv",
                               nprobe=min(nprobe, len(centroids)))
    scored = (
        c_assigned.join(F.broadcast(q_probes), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                _cosine(F.col("qv"), F.col("cv")).alias("_c"))
        .distinct()  # a neighbor can appear via several probed buckets
    )
    return _topk_rounded(scored, k)


def semantic_dedup(corpus: DataFrame, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   bucket_col: str | None = None, n_clusters: int = 16,
                   max_cluster_size: int = 100_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then inside each cluster drop every vector with a
    smaller-id neighbor at cosine >= threshold (keep-min — the repo's
    near-dedup convention). Cross-cluster near-duplicates are NOT
    candidates by design: that is the method's cost model — candidate
    volume is the sum of squared CLUSTER sizes, never corpus², which
    is what makes semantic dedup tractable at 10^12 vectors.

    Clustering: pass `bucket_col` to reuse a precomputed assignment
    (sharded pipelines persist it); otherwise ivf_train's
    deterministic distributed Lloyd assigns via one GEMM Arrow stage.
    Hot clusters past `max_cluster_size` are excluded from the pair
    join (the embedding-LSH cap convention) and surface with
    cluster_capped=true, keep=true — an accountable skip, never a
    quadratic blowup. Cosines round to 4 decimals before the
    threshold compare (engine-parity convention shared with every
    cosine oracle in this repo).

    Returns (id, bucket, semdedup_keep, cluster_capped)."""
    base = corpus.select(F.col(id_col).alias(id_col),
                         _as_double(F.col(vec_col)).alias(vec_col))
    if bucket_col is not None:
        assigned = corpus.select(
            F.col(id_col).alias(id_col),
            _as_double(F.col(vec_col)).alias(vec_col),
            F.col(bucket_col).cast("long").alias("bucket"))
    else:
        cents = ivf_train(base, n_clusters=n_clusters,
                          id_col=id_col, vec_col=vec_col)
        assigned = _assign_buckets(base, cents, id_col, vec_col) \
            .withColumn("bucket", F.col("bucket").cast("long"))
    sizes = assigned.groupBy("bucket").agg(
        F.count_if(F.lit(True)).alias("_n"))
    tagged = assigned.join(F.broadcast(sizes), "bucket").withColumn(
        "cluster_capped", F.col("_n") > max_cluster_size).drop("_n")
    small = tagged.where(~F.col("cluster_capped"))
    l = small.select(F.col("bucket"),
                     F.col(id_col).alias("_a"), F.col(vec_col).alias("_va"))
    r = small.select(F.col("bucket"),
                     F.col(id_col).alias("_b"), F.col(vec_col).alias("_vb"))
    drops = (l.join(r, "bucket")
             .where(F.col("_a") < F.col("_b"))
             .where(F.round(_cosine(F.col("_va"), F.col("_vb")), 4)
                    >= F.lit(threshold))
             .select(F.col("_b").alias(id_col))
             .distinct())
    return (tagged
            .join(drops.withColumn("_drop", F.lit(True)), id_col, "left")
            .select(id_col, "bucket",
                    F.coalesce(~F.col("_drop"), F.lit(True))
                    .alias("semdedup_keep"),
                    "cluster_capped"))
