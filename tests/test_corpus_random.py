"""Randomized cross-checks of the corpus operators against pure-Python
references (seeded — deterministic in CI).

The oracle queries gate these operators on the driver's synthetic
corpus; these tests gate them on ADVERSARIAL shapes the corpus does
not produce: key gaps, singleton buckets, dense duplicate graphs with
cycles, and heavily tied scores.
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


@pytest.mark.parametrize("seed,cap", [
    (41, None), (42, 1), (43, 7), (44, 20)])
def test_perplexity_rank_matches_python(spark, seed, cap):
    from docling_eval_spark.operators.caching import release_caches
    from docling_eval_spark.operators.webtext import perplexity_buckets

    rng = random.Random(seed)
    rows = [(k, float(rng.randrange(5)))  # few score levels -> ties
            for (k, _) in _rand_corpus(seed, 60, 20, 25)]
    df = spark.createDataFrame(rows, ["doc_id", "unigram_nll"])
    out = perplexity_buckets(df, max_partition_rows=cap)
    got = {r.doc_id: (r.ppl_rank, r.ppl_bucket) for r in out.collect()}
    release_caches(out)
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {k: (rank, ("head", "middle", "tail")[rank * 3 // len(rows)])
            for rank, (k, _) in enumerate(order)}
    assert got == want
