"""Randomized cross-checks of the training-batch corpus operators
against pure-Python references (seeded — deterministic in CI).

The oracle queries gate these operators on the driver's synthetic
corpus; these tests gate them on ADVERSARIAL shapes the corpus does
not produce: key gaps, singleton buckets, dense duplicate graphs with
cycles, and token streams that straddle context windows.
"""

from __future__ import annotations

import random

import pytest


def _rand_corpus(seed: int, n_docs: int, vocab: int,
                 max_len: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    keys = sorted(rng.sample(range(0, n_docs * 7), n_docs))
    return [
        (k, " ".join(f"w{rng.randrange(vocab)}"
                     for _ in range(rng.randrange(1, max_len))))
        for k in keys
    ]


@pytest.mark.parametrize("seed,ctx,buckets", [
    (1, 16, 4), (2, 7, 3), (3, 64, 17), (4, 1, 5)])
def test_pack_sequences_matches_python_cumsum(spark, seed, ctx, buckets):
    from docling_eval_spark.operators.webtext import pack_sequences

    rows = _rand_corpus(seed, 80, 50, 30)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           pack_sequences(df, ctx_len=ctx, n_buckets=buckets).collect()}
    cum = 0
    for k, text in rows:
        nt = len(text.split())
        r = out[k]
        assert r.n_tokens == nt
        assert r.tok_start == cum
        assert r.seq_first == cum // ctx
        assert r.seq_last == (cum + nt - 1) // ctx
        assert r.n_seqs == (cum + nt - 1) // ctx - cum // ctx + 1
        cum += nt
    assert len(out) == len(rows)


def _uf_components(n_ids: list[int],
                   edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {i: i for i in n_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [
    (11, 60, 40), (12, 60, 120), (13, 30, 200), (14, 100, 50)])
def test_dup_components_matches_union_find(spark, seed, n_nodes, n_edges):
    from docling_eval_spark.operators.dedup import dup_components

    rng = random.Random(seed)
    ids = rng.sample(range(0, n_nodes * 5), n_nodes)
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r.node: r.component for r in dup_components(df).collect()}
    touched = sorted({x for e in edges for x in e})
    want = _uf_components(touched, edges)
    assert got == {k: want[k] for k in touched}


def _py_duplicate_spans(rows: list[tuple[int, str]],
                        n: int) -> dict[int, tuple[int, int, int]]:
    from collections import Counter
    grams: Counter = Counter()
    per_doc: dict[int, list[int]] = {}
    for k, text in rows:
        ws = text.split()
        pos = []
        for i in range(len(ws) - n + 1):
            g = " ".join(ws[i:i + n])
            grams[g] += 1
            pos.append((i + 1, g))
        per_doc[k] = pos
    out = {}
    for k, text in rows:
        dups = sorted(i for i, g in per_doc[k] if grams[g] >= 2)
        covered = 0
        prev = None
        for p in dups:
            covered += n if prev is None else min(n, p - prev)
            prev = p
        out[k] = (max(len(text.split()) - n + 1, 0), len(dups), covered)
    return out


@pytest.mark.parametrize("seed,n", [(21, 2), (22, 3), (23, 5)])
def test_duplicate_spans_matches_python(spark, seed, n):
    from docling_eval_spark.operators.webtext import duplicate_span_stats

    # tiny vocab -> dense duplicate structure with overlapping windows
    rows = _rand_corpus(seed, 50, 4, 20)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.n_grams, r.n_dup_positions, r.dup_covered_tokens)
           for r in duplicate_span_stats(df, n=n).collect()}
    assert out == _py_duplicate_spans(rows, n)


@pytest.mark.parametrize("seed", [31, 32])
def test_ngram_contamination_matches_python(spark, seed):
    from docling_eval_spark.operators.webtext import ngram_contamination

    rows = _rand_corpus(seed, 40, 6, 15)
    bench_rows = _rand_corpus(seed + 100, 8, 6, 15)
    n = 3
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])

    def grams(text: str) -> set[str]:
        ws = text.split()
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    bset = set().union(*(grams(t) for _, t in bench_rows))
    got = {r.doc_id: (r.n_grams, r.n_matched, r.contaminated)
           for r in ngram_contamination(df, bench, n=n).collect()}
    for k, t in rows:
        ws = t.split()
        n_grams = max(len(ws) - n + 1, 0)
        matched = len(grams(t) & bset)
        assert got[k] == (n_grams, matched, matched >= 1)


@pytest.mark.parametrize("seed,budget,buckets", [
    (41, 50, 4), (42, 200, 16), (43, 1, 3), (44, 10_000, 7)])
def test_select_token_budget_matches_python(spark, seed, budget, buckets):
    from docling_eval_spark.operators.webtext import select_token_budget

    rng = random.Random(seed)
    rows = [(k, float(rng.randrange(5)), t)  # few score levels -> ties
            for (k, t) in _rand_corpus(seed, 60, 20, 25)]
    df = spark.createDataFrame(rows, ["doc_id", "score", "text"])
    got = {r.doc_id: r.tok_before for r in select_token_budget(
        df, budget=budget, score_col="score",
        n_buckets=buckets).collect()}
    cum, want = 0, {}
    for k, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum < budget:
            want[k] = cum
        cum += len(t.split())
    assert got == want


@pytest.mark.parametrize("seed", [51, 52])
def test_epoch_shuffle_matches_python_md5_rank(spark, seed):
    import hashlib

    from docling_eval_spark.operators.webtext import epoch_shuffle

    rng = random.Random(seed)
    ids = rng.sample(range(0, 5000), 200)
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {r.doc_id: r.shuffle_pos
           for r in epoch_shuffle(df, seed=seed, prefix_len=1).collect()}
    order = sorted(
        ids, key=lambda i: (hashlib.md5(f"{i}:{seed}".encode())
                            .hexdigest(), i))
    want = {k: pos for pos, k in enumerate(order)}
    assert got == want
