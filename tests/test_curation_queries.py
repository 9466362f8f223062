"""The registry's curation queries against the closed forms their
oracles state, computed here in Python over the same sf fixture.

`tools/check_oracle.py` gates these queries against DuckDB; these
tests gate them in pytest, so a change to a curation operator fails
the suite without a DuckDB run.
"""

import hashlib
import math
import re
from collections import Counter

import pandas as pd
import pytest

LABELS = ("head", "middle", "tail")


def _documents(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def _run(spark, sf_dir, name):
    import __spark_entry__ as entry

    from docling_eval_spark.operators.caching import release_caches

    df = entry.queries()[name](spark, sf_dir)
    rows = df.collect()
    release_caches(df)
    return rows


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _thr(rate):
    """hash_sample's threshold: 8 hex chars, 'g' above every digest."""
    return "g" if rate >= 1.0 else format(int(rate * 16 ** 8), "08x")


def _words(text):
    """operators/webtext.py `_words`: Spark trim (spaces) + split on \\s+."""
    return re.split(r"\s+", text.strip(" "))


def _unigram_nll(texts):
    """{key: (n_tokens, mean -ln p(token))} under one corpus model."""
    toks = {k: _words(t) for k, t in texts.items()}
    freq = Counter(w for ws in toks.values() for w in ws)
    total = sum(freq.values())
    return {k: (len(ws), sum(-math.log(freq[w] / total) for w in ws)
                / len(ws))
            for k, ws in toks.items()}


def _assert_thirds(rows):
    """ppl_rank is the (score, key) sort position; buckets are thirds."""
    order = sorted(rows, key=lambda r: (r.unigram_nll, r.doc_id))
    for rank, r in enumerate(order):
        assert r.ppl_rank == rank, r.doc_id
        assert r.ppl_bucket == LABELS[min(rank * 3 // len(rows), 2)]


class TestCurationQueries:
    def test_hash_sample_docs(self, spark, sf_dir):
        ids = _documents(sf_dir)["doc_id"]
        want = []
        for rate in (0.1, 0.25, 0.5):
            kept = [d for d in ids if _md5(f"{d}:r3")[:8] < _thr(rate)]
            want.append((rate, len(kept), sum(kept)))
        got = [tuple(r) for r in _run(spark, sf_dir, "hash_sample_docs")]
        assert got == want

    def test_stratified_sample_langs(self, spark, sf_dir):
        rates = {"en": 1.0, "de": 0.25, "zh": 0.1}
        docs = _documents(sf_dir)
        kept = Counter()
        id_sum = Counter()
        for d, lang in zip(docs["doc_id"], docs["lang"]):
            if lang in rates and _md5(f"{d}:mix")[:8] < _thr(rates[lang]):
                kept[lang] += 1
                id_sum[lang] += d
        got = [tuple(r) for r in
               _run(spark, sf_dir, "stratified_sample_langs")]
        assert got == [(g, kept[g], id_sum[g]) for g in sorted(kept)]

    def test_temperature_mix_sample(self, spark, sf_dir):
        docs = _documents(sf_dir)
        counts = Counter(docs["lang"])
        n_min = min(counts.values())
        rates = {g: math.sqrt(n_min / n) for g, n in counts.items()}
        want = [(d, g) for d, g in zip(docs["doc_id"], docs["lang"])
                if _md5(f"{d}:mix")[:8] < _thr(rates[g])]
        got = [(r.doc_id, r.lang) for r in
               _run(spark, sf_dir, "temperature_mix_sample")]
        assert got == sorted(want)

    def test_perplexity_buckets(self, spark, sf_dir):
        docs = _documents(sf_dir)
        nll = _unigram_nll(dict(zip(docs["doc_id"], docs["text"])))
        rows = _run(spark, sf_dir, "perplexity_buckets")
        assert [r.doc_id for r in rows] == sorted(nll)
        for r in rows:
            assert r.unigram_nll == pytest.approx(nll[r.doc_id][1], abs=2e-6)
        _assert_thirds(rows)

    def test_perplexity_by_lang(self, spark, sf_dir):
        docs = _documents(sf_dir)
        rows = _run(spark, sf_dir, "perplexity_by_lang")
        assert [r.doc_id for r in rows] == sorted(docs["doc_id"])
        for lang, g in docs.groupby("lang"):
            nll = _unigram_nll(dict(zip(g["doc_id"], g["text"])))
            mine = [r for r in rows if r.lang == lang]
            assert sorted(r.doc_id for r in mine) == sorted(nll)
            for r in mine:
                assert r.unigram_nll == pytest.approx(nll[r.doc_id][1],
                                                      abs=2e-6)
            _assert_thirds(mine)

    def test_webtext_unigram_nll(self, spark, sf_dir):
        docs = _documents(sf_dir)
        nll = _unigram_nll(dict(zip(docs["doc_id"], docs["text"])))
        rows = _run(spark, sf_dir, "webtext_unigram_nll")
        assert [r.doc_id for r in rows] == sorted(nll)
        for r in rows:
            assert r.n_tokens == nll[r.doc_id][0]
            assert r.unigram_nll == pytest.approx(nll[r.doc_id][1], abs=2e-6)

    def test_range_slice(self, spark, sf_dir):
        docs = _documents(sf_dir).sort_values("doc_id")
        want = list(zip(docs["doc_id"], docs["lang"]))[100:120]
        got = [tuple(r) for r in _run(spark, sf_dir, "range_slice")]
        assert got == want

    def test_ngram_decontaminate(self, spark, sf_dir):
        docs = _documents(sf_dir)
        n = 6

        def grams(text):
            ws = _words(text)
            return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

        pairs = list(zip(docs["doc_id"], docs["text"]))
        bench = set().union(*(grams(t) for d, t in pairs if d % 41 == 0))
        want = {}
        for d, t in pairs:
            matched = len(grams(t) & bench)
            want[d] = (max(len(_words(t)) - n + 1, 0), matched, matched >= 1)
        rows = _run(spark, sf_dir, "ngram_decontaminate")
        assert {r.doc_id: (r.n_grams, r.n_matched, r.contaminated)
                for r in rows} == want

    def test_webtext_latest_snapshot(self, spark, sf_dir):
        docs = _documents(sf_dir)
        want = sorted(
            (f"https://h.example/{d}", 1 + d % 3,
             d * 7 % 100000 + (d % 3) * 3600, c + d % 3, g)
            for d, c, g in zip(docs["doc_id"], docs["n_chars"], docs["lang"]))
        got = [tuple(r) for r in
               _run(spark, sf_dir, "webtext_latest_snapshot")]
        assert got == want

    def test_normalize_text(self, spark, sf_dir):
        docs = _documents(sf_dir)
        want = [(d, d % 3 == 0, _md5(t), True)
                for d, t in sorted(zip(docs["doc_id"], docs["text"]))]
        got = [tuple(r) for r in _run(spark, sf_dir, "normalize_text")]
        assert got == want

    def test_url_filter_pages(self, spark, sf_dir):
        want = []
        for d in sorted(_documents(sf_dir)["doc_id"]):
            blocked = d % 97 in (3, 13, 23)
            score = (1.0 if d % 31 == 0 else 0.0) + \
                (0.5 if d % 37 == 0 else 0.0)
            want.append((d, f"host{d % 97:04d}.example", blocked, score,
                         not blocked and score < 1.0))
        got = [tuple(r) for r in _run(spark, sf_dir, "url_filter_pages")]
        assert got == want

    def test_url_dedup_canonical(self, spark, sf_dir):
        ids = sorted(_documents(sf_dir)["doc_id"])

        def canon(d):
            g, m = d // 4, d % 4
            if m in (0, 1):
                return f"https://h{g}.example/p{g}?b=2&x=1"
            if m == 2:
                return f"http://h{g}.example/p{g}/other"
            return f"https://h{g}.example/p{g}"

        groups = Counter(canon(d) for d in ids)
        first = {}
        for d in ids:
            first.setdefault(canon(d), d)
        want = [(d, canon(d), groups[canon(d)], first[canon(d)] == d)
                for d in ids]
        got = [tuple(r) for r in _run(spark, sf_dir, "url_dedup_canonical")]
        assert got == want

    def test_dedup_against_history(self, spark, sf_dir):
        docs = _documents(sf_dir)
        history = {t for d, t in zip(docs["doc_id"], docs["text"])
                   if d % 2 == 0}
        first = {}
        for d, t in sorted(zip(docs["doc_id"], docs["text"])):
            if d % 2 == 1 and t not in history:
                first.setdefault(t, d)
        want = sorted((d, _md5(t)) for t, d in first.items())
        got = [tuple(r) for r in
               _run(spark, sf_dir, "dedup_against_history")]
        assert got == want

    def test_dedup_exact(self, spark, sf_dir):
        texts = list(_documents(sf_dir)["text"])
        (row,) = _run(spark, sf_dir, "dedup_exact")
        assert tuple(row) == (len(texts), len(set(texts)),
                              len(texts) - len(set(texts)))

    def test_webtext_domain_rollup(self, spark, sf_dir):
        docs = _documents(sf_dir)
        chars = {}
        for d, c in zip(docs["doc_id"], docs["n_chars"]):
            host = 0 if d % 3 != 0 else d % 131
            chars.setdefault(f"host{host:04d}.example", []).append(c)
        want = [(dom, len(cs), round(sum(cs) / len(cs), 6))
                for dom, cs in sorted(chars.items())]
        got = [tuple(r) for r in
               _run(spark, sf_dir, "webtext_domain_rollup")]
        assert got == want

    def test_pii_redaction(self, spark, sf_dir):
        docs = _documents(sf_dir)
        want = [(d, 1, 1, 1,
                 _md5(t + " contact <EMAIL> or <IP> tel <PHONE>"))
                for d, t in sorted(zip(docs["doc_id"], docs["text"]))]
        got = [tuple(r) for r in _run(spark, sf_dir, "pii_redaction")]
        assert got == want

    def test_duplicate_spans(self, spark, sf_dir):
        from test_corpus_random import _py_duplicate_spans

        docs = _documents(sf_dir)
        want = _py_duplicate_spans(list(zip(docs["doc_id"], docs["text"])),
                                   8)
        rows = _run(spark, sf_dir, "duplicate_spans")
        assert {r.doc_id: (r.n_grams, r.n_dup_positions,
                           r.dup_covered_tokens) for r in rows} == want

    def test_gopher_line_flags(self, spark, sf_dir):
        docs = _documents(sf_dir)
        want = []
        for d, t in sorted(zip(docs["doc_id"], docs["text"])):
            ws = _words(t)
            lines = [("- " if (d + i) % 3 == 0 else "")
                     + " ".join(ws[i * 4:i * 4 + 4])
                     + (" ..." if (d + i) % 4 == 0 else "")
                     for i in range(math.ceil(len(ws) / 4))]
            bullet = round(sum(ln.lstrip()[:1] in "-*•‣▪" for ln in lines)
                           / len(lines), 6)
            ellipsis = round(sum(ln.rstrip().endswith(("...", "…"))
                                 for ln in lines) / len(lines), 6)
            want.append((d, len(lines), bullet, ellipsis, bullet <= 0.9,
                         ellipsis <= 0.3, bullet <= 0.9 and ellipsis <= 0.3))
        got = [tuple(r) for r in _run(spark, sf_dir, "gopher_line_flags")]
        assert got == want

