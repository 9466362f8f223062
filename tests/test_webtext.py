"""Web-corpus curation operators (operators/webtext.py).

Hand-computed fixtures for the CCNet / Gopher / C4 / RefinedWeb-style
passes that run downstream of the extraction tier: corpus-level line
dedup, Gopher quality + repetition rules, PII redaction, per-domain
rollups (salted == unsalted invariant), unigram LM scoring, and
latest-snapshot-per-url collapse.
"""

import pytest
from pyspark.sql import functions as F

from docling_eval_spark.operators.webtext import (
    corpus_line_dedup,
    domain_rollup,
    hash_sample,
    latest_snapshot,
    redact_pii,
    repetition_stats,
    unigram_logprob,
    with_domain,
    with_gopher_quality,
    with_word_lines,
)


def test_with_word_lines_chunks(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, "p q r s")],
        ["doc_id", "text"])
    rows = {r.doc_id: r.text_lines
            for r in with_word_lines(df, words_per_line=3).collect()}
    assert rows[1] == "a b c\nd e f\ng"
    assert rows[2] == "x"
    assert rows[3] == "p q r\ns"


def test_corpus_line_dedup_keeps_first_occurrence(spark):
    # line "dup line" appears in docs 1 and 2; doc 2's copy must go.
    # doc 3 is entirely made of lines seen earlier -> empty survivor text.
    df = spark.createDataFrame(
        [(1, "dup line\nuniq one"),
         (2, "dup line\nuniq two"),
         (3, "dup line\nuniq one")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in corpus_line_dedup(df).collect()}
    assert (out[1].n_lines, out[1].n_kept) == (2, 2)
    assert out[1].text == "dup line\nuniq one"
    assert (out[2].n_lines, out[2].n_kept) == (2, 1)
    assert out[2].text == "uniq two"
    assert (out[3].n_lines, out[3].n_kept) == (2, 0)
    assert out[3].text == ""


def test_corpus_line_dedup_first_is_document_order(spark):
    # same line in docs 5 and 9 -> doc 5 wins regardless of input order
    df = spark.createDataFrame(
        [(9, "shared"), (5, "shared")], ["doc_id", "text"])
    out = {r.doc_id: r.n_kept for r in corpus_line_dedup(df).collect()}
    assert out[5] == 1 and out[9] == 0


def test_corpus_line_dedup_rejects_string_key(spark):
    # a string key would cast to null inside the first-occurrence
    # packing and silently empty every document — must raise up front
    df = spark.createDataFrame([("a", "line one")], ["doc_id", "text"])
    with pytest.raises(TypeError, match="integral key"):
        corpus_line_dedup(df)


def test_gopher_quality_flags(spark):
    good = " ".join(["the", "a", "word", "tokens"] * 15)  # 60 words
    short = "the a tiny doc"                              # 4 words
    symbols = " ".join(["the", "a"] + ["####"] * 28)      # symbol-heavy
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           with_gopher_quality(df, min_words=20).collect()}
    assert out[1].gopher_pass
    assert out[1].n_words == 60 and out[1].n_stop == 30
    assert not out[2].flag_word_count and not out[2].gopher_pass
    assert not out[3].flag_symbol and not out[3].gopher_pass
    # symbol ratio: 112 '#' chars / 30 words
    assert out[3].symbol_ratio == pytest.approx(112 / 30, abs=1e-6)


def test_gopher_symbol_counts_unicode_ellipsis(spark):
    # Gopher A1.1 counts ellipses whichever way they are written: the
    # unicode '…' must weigh the same as the three-dot ASCII form
    ascii_e = " ".join(["word..."] * 10)
    uni_e = " ".join(["word…"] * 10)
    df = spark.createDataFrame([(1, ascii_e), (2, uni_e)],
                               ["doc_id", "text"])
    out = {r.doc_id: r for r in with_gopher_quality(df).collect()}
    assert out[1].symbol_ratio == pytest.approx(1.0, abs=1e-6)
    assert out[2].symbol_ratio == pytest.approx(1.0, abs=1e-6)


def test_repetition_stats_hand_computed(spark):
    # doc 1: 3 lines, "r r" twice -> dup_line_frac 2/3; chars 3+3+3 ->
    # dup_line_char_frac 6/9; top 2-gram "r r" count 3 of words
    # [r,r,x,y,r,r]: grams r r, r x, x y, y r, r r -> wait, lines are
    # pre-chunked below so the word stream is r r x y r r.
    df = spark.createDataFrame(
        [(1, "r r\nx y\nr r")], ["doc_id", "text"])
    out = repetition_stats(df).collect()[0]
    assert out.dup_line_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out.dup_line_char_frac == pytest.approx(6 / 9, abs=1e-6)
    # word stream r,r,x,y,r,r -> grams: "r r","r x","x y","y r","r r"
    assert out.top_gram == "r r" and out.top_cnt == 2
    # chars of "rr" = 2, count 2, word chars = 6
    assert out.top2gram_char_frac == pytest.approx(2 * 2 / 6, abs=1e-6)


def test_repetition_tie_breaks_lexicographically(spark):
    # grams "a b" and "b a" both occur twice -> smallest gram wins
    df = spark.createDataFrame([(1, "a b a b a")], ["doc_id", "text"])
    out = repetition_stats(df).collect()[0]
    assert out.top_gram == "a b" and out.top_cnt == 2


def test_c4_page_filter_rules(spark):
    from docling_eval_spark.operators.webtext import c4_page_filter

    good = "one two three four five six.\nsix more words are written here!\n" \
           "third valid line of text here."
    no_punct = "one two three four five six\n" \
               "seven eight nine ten eleven twelve\nthirteen x y z w v"
    short_lines = "one two.\nthree four!\nfive six."
    js = "this line mentions javascript here now.\n" \
         "a second acceptable line is here.\nthird acceptable line is here."
    lorem = good + "\nlorem ipsum dolor sit amet consectetur."
    brace = good + "\nconfig = { nested } with six words."
    df = spark.createDataFrame(
        [(1, good), (2, no_punct), (3, short_lines), (4, js),
         (5, lorem), (6, brace)],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in c4_page_filter(df).collect()}
    assert out[1].keep and out[1].n_kept_lines == 3
    assert out[1].text_clean == good
    assert not out[2].keep and out[2].n_kept_lines == 0   # no terminal punct
    assert not out[3].keep and out[3].n_kept_lines == 0   # < 5 words/line
    assert not out[4].keep and out[4].n_kept_lines == 2   # js line dropped
    assert not out[5].keep                                 # lorem ipsum page
    assert out[5].n_kept_lines == 4                        # line-level keeps it
    assert not out[6].keep                                 # curly brace page


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@x.org and carol@y.net ip 10.0.0.1 tel +123456789"),
         (2, "nothing here")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (2, 1, 1)
    assert out[1].text_redacted == \
        "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE>"
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 0, 0)
    assert out[2].text_redacted == "nothing here"


def test_redact_pii_email_before_ip(spark):
    # the dotted quad inside an address must redact as EMAIL, not IP
    df = spark.createDataFrame([(1, "x 1.2.3.4@host.example y")],
                               ["doc_id", "text"])
    out = redact_pii(df).collect()[0]
    assert out.n_emails == 1 and out.n_ips == 0
    assert out.text_redacted == "x <EMAIL> y"


def test_domain_rollup_salted_matches_unsalted(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars")
    pages = with_domain(docs.withColumn(
        "url", F.concat(F.lit("https://h"),
                        (F.col("doc_id") % 7).cast("string"),
                        F.lit(".example/x"))))
    plain = {r.domain: (r.n_docs, r.avg_chars)
             for r in domain_rollup(pages).collect()}
    salted = {r.domain: (r.n_docs, r.avg_chars)
              for r in domain_rollup(pages, salt_buckets=16).collect()}
    assert plain == salted and len(plain) == 7


def test_perplexity_buckets_thirds_and_ties(spark):
    from docling_eval_spark.operators.webtext import perplexity_buckets

    # 90 docs, heavily tied scores (30 distinct values x 3) — the tie
    # refinement path must still produce the exact global rank
    rows = [(i, float(i % 30)) for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "unigram_nll"])
    out = {r.doc_id: r for r in perplexity_buckets(
        df, max_partition_rows=10).collect()}
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    for rank, (doc_id, _) in enumerate(order):
        assert out[doc_id].ppl_rank == rank, doc_id
        want = ("head", "middle", "tail")[min(rank * 3 // 90, 2)]
        assert out[doc_id].ppl_bucket == want, (doc_id, rank)
    from collections import Counter
    assert Counter(r.ppl_bucket for r in out.values()) == {
        "head": 30, "middle": 30, "tail": 30}


def test_assign_split_deterministic_and_stable(spark):
    import hashlib

    from docling_eval_spark.operators.webtext import assign_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    out = {r.doc_id: r.split for r in assign_split(df, fracs=fr).collect()}

    def expect(i):
        u = int(hashlib.md5(f"{i}:".encode()).hexdigest()[:8], 16) / 2 ** 32
        return "train" if u < 0.8 else ("val" if u < 0.9 else "test")

    assert out == {i: expect(i) for i in range(2000)}
    # rough proportions
    n_train = sum(1 for s in out.values() if s == "train")
    assert 0.75 < n_train / 2000 < 0.85
    # growth stability: a smaller corpus assigns the SAME splits
    sub = {r.doc_id: r.split for r in assign_split(
        df.where("doc_id < 500"), fracs=fr).collect()}
    assert all(out[i] == sub[i] for i in sub)
    # distinct salt = independent draw
    other = {r.doc_id: r.split for r in assign_split(
        df, fracs=fr, salt="s2").collect()}
    assert other != out


def _py_full_repetition(text, line_sep="\n", para_sep="\n\n"):
    """Pure-Python reference for the 13 Gopher repetition fractions."""
    from collections import Counter

    def unit_stats(sep):
        units = [u for u in text.split(sep) if u]
        c = Counter(units)
        tot = sum(c.values())
        tot_ch = sum(n * len(u) for u, n in c.items())
        dup = sum(n for n in c.values() if n > 1)
        dup_ch = sum(n * len(u) for u, n in c.items() if n > 1)
        if tot == 0:
            return None, None
        return round(dup / tot, 6), round(dup_ch / tot_ch, 6)

    words = text.split()
    wchars = sum(len(w) for w in words)
    out = {}
    out["dup_line_frac"], out["dup_line_char_frac"] = unit_stats(line_sep)
    out["dup_para_frac"], out["dup_para_char_frac"] = unit_stats(para_sep)
    for n in (2, 3, 4):
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        key = f"top{n}gram_char_frac"
        if not grams:
            out[key] = None
            continue
        c = Counter(grams)
        first = {}
        for i, g in enumerate(grams):
            first.setdefault(g, i)
        # count ties break by earliest first occurrence (positions are
        # unique per gram, so the order is total)
        top = min(c, key=lambda g: (-c[g], first[g]))
        out[key] = round(c[top] * len(top.replace(" ", "")) / wchars, 6)
    for n in (5, 6, 7, 8, 9, 10):
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        key = f"dup{n}gram_char_frac"
        if not grams:
            out[key] = None
            continue
        c = Counter(grams)
        covered = set()
        for i, g in enumerate(grams):
            if c[g] > 1:
                covered.update(range(i, i + n))
        out[key] = round(
            sum(len(words[i]) for i in covered) / wchars, 6)
    return out


def test_full_repetition_stats_matches_python_reference(spark):
    import random

    from docling_eval_spark.operators.webtext import (
        GOPHER_REPETITION_THRESHOLDS, full_repetition_stats)

    rng = random.Random(11)
    vocab = ["aa", "bbb", "c", "dddd", "ee"]
    rows = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(12, 60))]
        if i % 3 == 0:   # inject heavy repetition
            words = words[:8] * rng.randint(2, 4)
        lines = [" ".join(words[j:j + 3])
                 for j in range(0, len(words), 3)]
        paras = ["\n".join(lines[k:k + 2])
                 for k in range(0, len(lines), 2)]
        rows.append((i, "\n\n".join(paras)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.asDict() for r in
           full_repetition_stats(df).collect()}
    for doc_id, text in rows:
        want = _py_full_repetition(text)
        for col, val in want.items():
            g = got[doc_id][col]
            assert (g is None and val is None) or \
                g == pytest.approx(val, abs=1e-6), (doc_id, col, g, val)
        fail = any((want[c] or 0.0) > t
                   for c, t in GOPHER_REPETITION_THRESHOLDS.items())
        assert got[doc_id]["gopher_repetition_pass"] == (not fail), doc_id


def test_full_repetition_pass_thresholds(spark):
    from docling_eval_spark.operators.webtext import full_repetition_stats

    clean = " ".join(f"w{i}" for i in range(40))
    spam = "\n\n".join(["the same paragraph here"] * 6)
    df = spark.createDataFrame(
        [(1, clean), (2, spam)], ["doc_id", "text"])
    out = {r.doc_id: r for r in full_repetition_stats(df).collect()}
    assert out[1].gopher_repetition_pass
    assert not out[2].gopher_repetition_pass
    assert out[2].dup_para_frac == 1.0


def test_classifier_score_hand_computed(spark):
    import hashlib
    import math

    from docling_eval_spark.operators.webtext import classifier_score

    weights = [((i * 37) % 64 - 32) / 64.0 for i in range(64)]

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64

    rows = [(1, "alpha beta"), (2, "alpha"), (3, "x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.clf_score for r in
           classifier_score(df, weights).collect()}
    for doc_id, text in rows:
        toks = text.split()
        z = sum(weights[bucket(t)] for t in toks) / len(toks)
        want = round(1.0 / (1.0 + math.exp(-z)), 6)
        assert out[doc_id] == pytest.approx(want, abs=1e-6), (text, z)


def test_pareto_importance_sample_published_rule(spark):
    import hashlib

    from docling_eval_spark.operators.webtext import (
        pareto_importance_sample)

    rows = [(i, 0.02 * (i % 50)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "clf_score"])
    out = {r.doc_id: r.pareto_keep for r in
           pareto_importance_sample(df).collect()}

    def expect(doc_id, score):
        u = (int(hashlib.md5(f"{doc_id}:".encode()).hexdigest()[:8], 16)
             + 1.0) / 2.0 ** 32
        return round(u ** (-1 / 9.0) - 1 - (1 - score), 6) > 0

    assert out == {i: expect(i, s) for i, s in rows}
    kept = sum(out.values())
    assert 0 < kept < len(rows)   # heavy tail: some low scores survive
    # high scores are kept near-always, low scores rarely
    # alpha=9: P(keep | score s) = (2 - s)^-9 — ~0.65 at s=0.95,
    # ~0.003 at s=0.05; the sampler preserves a heavy-tailed remnant
    hi = [out[i] for i, s in rows if s > 0.9]
    lo = [out[i] for i, s in rows if s < 0.1]
    assert sum(hi) / len(hi) > 0.5 and sum(lo) / len(lo) < 0.1
    # per-epoch redraw via salt changes the decision set
    other = {r.doc_id: r.pareto_keep for r in
             pareto_importance_sample(df, salt="epoch2").collect()}
    assert other != out


def test_with_robots_flags(spark):
    from docling_eval_spark.operators.webtext import with_robots_flags

    rows = [
        (1, b"<html><head><meta name='robots' content='noindex, nofollow'>"
            b"</head><body>x</body></html>"),
        (2, b'<html><head><META NAME="ROBOTS" CONTENT="NONE"></head>x'),
        (3, b"<html><head><meta name='robots' content='index, follow'>x"),
        (4, b"<html><body>no meta at all</body></html>"),
        (5, b"<meta name=robots content=nofollow>"),   # unquoted attrs
        # content attribute BEFORE name: legal HTML a name-then-content
        # regex silently keeps — a compliance false negative
        (6, b'<html><head><meta content="noindex" name="robots"></head>x'),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = {r.doc_id: r for r in with_robots_flags(df).collect()}
    assert out[1].robots_noindex and out[1].robots_nofollow
    assert not out[1].robots_keep
    assert out[2].robots_noindex and out[2].robots_nofollow  # 'none'
    assert not out[3].robots_noindex and out[3].robots_keep
    assert not out[4].robots_noindex and out[4].robots_keep
    assert not out[5].robots_noindex and out[5].robots_nofollow
    assert out[5].robots_keep
    assert out[6].robots_noindex and not out[6].robots_nofollow
    assert not out[6].robots_keep


def test_normalize_url_canonical_forms(spark):
    from docling_eval_spark.operators.webtext import normalize_url

    cases = [
        ("HTTP://WWW.Example.COM:80/Path/?b=2&utm_source=x&a=1#frag",
         "http://example.com/Path?a=1&b=2"),
        ("https://site.org:443/", "https://site.org/"),
        ("https://site.org", "https://site.org/"),
        ("https://a.b/x/", "https://a.b/x"),
        ("https://a.b/x?utm_campaign=z&fbclid=1", "https://a.b/x"),
        ("https://a.b/x?b=1&a=2", "https://a.b/x?a=2&b=1"),
        ("https://a.b/x?xref=3&ref=4", "https://a.b/x?xref=3"),
        ("ftp://x.example/y", "ftp://x.example/y"),      # untouched
        ("not a url", "not a url"),                      # untouched
        ("https://a.b:8080/x", "https://a.b:8080/x"),    # real port kept
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["doc_id", "url"])
    out = {r.doc_id: r.url_norm for r in normalize_url(df).collect()}
    for i, (raw, want) in enumerate(cases):
        assert out[i] == want, (raw, out[i], want)


def test_url_dedup_groups_and_survivor(spark):
    from docling_eval_spark.operators.webtext import url_dedup

    rows = [
        (1, "https://www.a.example/p?utm_source=x&k=1"),
        (2, "https://A.example/p/?k=1"),     # same canonical as 1
        (3, "https://a.example/p?k=2"),      # different query survives
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r.doc_id: r for r in url_dedup(df).collect()}
    assert out[1].url_norm == out[2].url_norm == "https://a.example/p?k=1"
    assert out[1].n_same_url == 2 and out[1].url_keep_first
    assert not out[2].url_keep_first
    assert out[3].n_same_url == 1 and out[3].url_keep_first


def test_with_domain_parses_host(spark):
    df = spark.createDataFrame(
        [(1, "https://sub.host.example/path/x?q=1")], ["doc_id", "url"])
    assert with_domain(df).collect()[0].domain == "sub.host.example"


def test_unigram_logprob_hand_computed(spark):
    import math

    # corpus: a a a b -> p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame(
        [(1, "a a"), (2, "a b")], ["doc_id", "text"])
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert out[1].n_tokens == 2
    assert out[1].unigram_nll == pytest.approx(-math.log(0.75), abs=1e-6)
    expect2 = (-math.log(0.75) - math.log(0.25)) / 2
    assert out[2].unigram_nll == pytest.approx(expect2, abs=1e-6)


def test_unigram_logprob_bucketed_join_equals_broadcast(spark):
    """The over-threshold shuffled-join fallback must score
    byte-identically to the broadcast path, and the plans must
    actually differ (broadcast vs shuffled hash join)."""
    rows = [(i, " ".join(f"w{(i * 13 + j) % 37}" for j in range(25)))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(6)
    base = unigram_logprob(df)
    got_b = sorted(tuple(r) for r in base.collect())
    # threshold far below the 37-token vocabulary -> shuffled join
    shuf = unigram_logprob(df, broadcast_max_tokens=5)
    got_s = sorted(tuple(r) for r in shuf.collect())
    assert got_s == got_b
    # threshold above it -> still the broadcast plan
    got_hi = sorted(tuple(r) for r in unigram_logprob(
        df, broadcast_max_tokens=10_000).collect())
    assert got_hi == got_b
    assert "BroadcastHashJoin" in \
        base._jdf.queryExecution().executedPlan().toString()
    splan = shuf._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in splan or "ShuffledHashJoin" in splan


def test_unigram_logprob_per_language_model(spark):
    """by='lang' must score each token against ITS language's
    distribution: the same token string gets different probabilities in
    different languages."""
    import math

    from docling_eval_spark.operators.webtext import unigram_logprob

    rows = [(1, "en", "a a a b"),    # en LM: p(a)=3/4, p(b)=1/4
            (2, "de", "a a c c")]    # de LM: p(a)=1/2, p(c)=1/2
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r.doc_id: r for r in unigram_logprob(df, by="lang").collect()}
    want1 = (-3 * math.log(0.75) - math.log(0.25)) / 4
    assert out[1].unigram_nll == pytest.approx(want1, abs=1e-6)
    # a GLOBAL model (p(a)=5/8) would read 0.93 here; per-lang is ln 2
    assert out[2].unigram_nll == pytest.approx(math.log(2.0), abs=1e-6)


def test_perplexity_buckets_by_lang_matches_window(spark):
    """Per-language thirds must equal a lang-partitioned global window
    (rank within language, ties by key), and the union must release its
    rank-machinery caches on the contract call."""
    from pyspark.sql import Window

    from docling_eval_spark.operators.caching import release_caches
    from docling_eval_spark.operators.webtext import (
        perplexity_buckets_by_lang)

    rows = [(i, ["en", "de", "fr"][i % 3], float((i * 17) % 23))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "unigram_nll"])
    out = perplexity_buckets_by_lang(df)
    got = {r.doc_id: (r.ppl_rank, r.ppl_bucket) for r in out.collect()}
    w = Window.partitionBy("lang").orderBy("unigram_nll", "doc_id")
    ref = (df.withColumn("rk", F.row_number().over(w) - 1)
           .withColumn("n", F.count("*").over(Window.partitionBy("lang"))))
    for r in ref.collect():
        bucket = ["head", "middle", "tail"][min(r.rk * 3 // r.n, 2)]
        assert got[r.doc_id] == (r.rk, bucket), r.doc_id
    # one rank-machinery cache per language, all released on the call
    # (delta-based: the shared test session may hold other caches)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert release_caches(out, blocking=True) == 3
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before - 3


def test_latest_snapshot_keeps_newest(spark):
    df = spark.createDataFrame(
        [("u1", 10, "old", 1), ("u1", 30, "new", 2), ("u1", 20, "mid", 3),
         ("u2", 5, "only", 4)],
        ["url", "warc_ts", "payload", "aux"])
    out = {r.url: r for r in latest_snapshot(df).collect()}
    assert out["u1"].n_crawls == 3
    assert out["u1"].warc_ts == 30 and out["u1"].payload == "new"
    assert out["u1"].aux == 2
    assert out["u2"].n_crawls == 1 and out["u2"].payload == "only"


def test_latest_snapshot_tie_is_single_source_row(spark):
    # two snapshots share a timestamp: the winner must be ONE of them
    # (the lexicographically-largest payload struct), never a per-column
    # mix — ("b", 1) beats ("a", 9) even though 9 > 1 column-wise
    df = spark.createDataFrame(
        [("u1", 10, "a", 9), ("u1", 10, "b", 1)],
        ["url", "warc_ts", "p1", "p2"])
    out = latest_snapshot(df).collect()[0]
    assert (out.p1, out.p2) == ("b", 1)


def test_latest_snapshot_payload_subset(spark):
    df = spark.createDataFrame(
        [("u1", 1, "a", "x"), ("u1", 2, "b", "y")],
        ["url", "warc_ts", "keep", "drop"])
    out = latest_snapshot(df, payload_cols=["keep"]).collect()[0]
    assert out.keep == "b"
    assert "drop" not in out.asDict()


def test_hash_sample_deterministic_and_nested(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = {r.doc_id for r in hash_sample(df, rate=0.1, salt="s").collect()}
    s25 = {r.doc_id for r in hash_sample(df, rate=0.25, salt="s").collect()}
    s50 = {r.doc_id for r in hash_sample(df, rate=0.5, salt="s").collect()}
    # same call again -> identical membership (pure function of key+salt)
    again = {r.doc_id for r in hash_sample(df, rate=0.25, salt="s").collect()}
    assert again == s25
    # nesting: lower-rate samples are strict subsets of higher-rate ones
    assert s10 < s25 < s50
    # rates land near their targets (md5 is uniform; 2000 keys)
    assert 120 <= len(s10) <= 280
    assert 380 <= len(s25) <= 620
    assert 850 <= len(s50) <= 1150
    # a different salt draws a different sample
    other = {r.doc_id for r in hash_sample(df, rate=0.25, salt="t").collect()}
    assert other != s25


def test_hash_sample_edge_rates(spark):
    df = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    assert hash_sample(df, rate=1.0).count() == 50
    assert hash_sample(df, rate=0.0).count() == 0


def test_ngram_contamination_flags_shared_grams(spark):
    from docling_eval_spark.operators.webtext import ngram_contamination

    bench = spark.createDataFrame([(100, "a b c")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "a b x y"),      # shares 2-gram "a b"
         (2, "x y z w"),      # shares "x y" with doc 1 but NOT with bench
         (3, "q")],           # too short for any 2-gram
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           ngram_contamination(docs, bench, n=2).collect()}
    assert (out[1].n_grams, out[1].n_matched, out[1].contaminated) == (3, 1, True)
    assert (out[2].n_grams, out[2].n_matched, out[2].contaminated) == (3, 0, False)
    assert (out[3].n_grams, out[3].n_matched, out[3].contaminated) == (0, 0, False)


def test_ngram_contamination_counts_distinct_grams_once(spark):
    from docling_eval_spark.operators.webtext import ngram_contamination

    bench = spark.createDataFrame([(9, "a b")], ["doc_id", "text"])
    # "a b" occurs twice in the doc -> must count once
    docs = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    out = ngram_contamination(docs, bench, n=2).collect()[0]
    assert out.n_grams == 3 and out.n_matched == 1


def test_url_filter_list_blocklist_and_scores(spark):
    from docling_eval_spark.operators.webtext import url_filter

    df = spark.createDataFrame(
        [(1, "https://ok.example/page"),
         (2, "https://bad.example/page"),
         (3, "https://ok.example/casino/x"),
         (4, "https://ok.example/lottery/x"),
         (5, "https://ok.example/lottery/betting")],
        ["doc_id", "url"])
    out = {r.doc_id: r for r in
           url_filter(df, blocked_domains=["bad.example"]).collect()}
    assert out[1].url_keep and out[1].url_score == 0.0
    assert out[2].blocked_domain and not out[2].url_keep
    assert out[3].url_score == 1.0 and not out[3].url_keep
    assert out[4].url_score == 0.5 and out[4].url_keep
    assert out[5].url_score == 1.0 and not out[5].url_keep


def test_url_filter_dataframe_blocklist(spark):
    from docling_eval_spark.operators.webtext import url_filter

    df = spark.createDataFrame(
        [(1, "https://a.example/x"), (2, "https://b.example/x")],
        ["doc_id", "url"])
    bl = spark.createDataFrame([("b.example",), ("b.example",)], ["domain"])
    out = {r.doc_id: r for r in url_filter(df, blocked_domains=bl).collect()}
    assert not out[1].blocked_domain and out[1].url_keep
    assert out[2].blocked_domain and not out[2].url_keep


def test_pack_sequences_hand_computed(spark):
    from docling_eval_spark.operators.webtext import pack_sequences

    df = spark.createDataFrame(
        [(1, "w w w w w"), (2, "w w w"), (3, "w w w w")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in pack_sequences(df, ctx_len=4).collect()}
    assert (out[1].tok_start, out[1].seq_first, out[1].seq_last,
            out[1].n_seqs) == (0, 0, 1, 2)
    assert (out[2].tok_start, out[2].seq_first, out[2].seq_last,
            out[2].n_seqs) == (5, 1, 1, 1)
    assert (out[3].tok_start, out[3].seq_first, out[3].seq_last,
            out[3].n_seqs) == (8, 2, 2, 1)


def test_pack_sequences_bucketing_matches_global_cumsum(spark):
    from docling_eval_spark.operators.webtext import pack_sequences

    # irregular keys with gaps; few buckets force multi-doc buckets
    rows = [(k, "t " * ((k * 7) % 11 + 1)) for k in
            [3, 8, 21, 22, 40, 41, 55, 90, 91, 97]]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           pack_sequences(df, ctx_len=8, n_buckets=3).collect()}
    cum = 0
    for k, text in rows:
        nt = len(text.split())
        assert out[k].n_tokens == nt
        assert out[k].tok_start == cum
        assert out[k].seq_first == cum // 8
        assert out[k].seq_last == (cum + nt - 1) // 8
        cum += nt


def test_stratified_hash_sample_matches_global_per_stratum(spark):
    from docling_eval_spark.operators.webtext import stratified_hash_sample

    df = spark.range(0, 900).withColumnRenamed("id", "doc_id") \
        .withColumn("lang", F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("zh")),
            (F.col("doc_id") % 3 + 1).cast("int")))
    out = stratified_hash_sample(
        df, {"en": 1.0, "de": 0.25}, strata_col="lang", salt="s")
    rows = out.collect()
    # zh absent from the map -> dropped entirely
    assert all(r.lang != "zh" for r in rows)
    # en at rate 1.0 -> every en row survives (the 'g' clamp)
    assert sum(r.lang == "en" for r in rows) == 300
    # de membership == the global hash_sample at the same rate+salt,
    # restricted to the stratum (the per-stratum nesting invariant)
    de_kept = {r.doc_id for r in rows if r.lang == "de"}
    global_kept = {r.doc_id
                   for r in hash_sample(df, rate=0.25, salt="s").collect()}
    assert de_kept == {k for k in global_kept if k % 3 == 1}


def test_duplicate_span_stats_hand_computed(spark):
    from docling_eval_spark.operators.webtext import duplicate_span_stats

    df = spark.createDataFrame(
        [(1, "a b c d a b c"),   # "a b c" at pos 1 and 5 -> merge gap 4
         (2, "x y z a b c q"),   # shares "a b c" with doc 1 at pos 4
         (3, "p q r"),           # unique gram, no dups
         (4, "s t"),             # too short for any 3-gram
         (5, "m m m m")],        # overlapping dup windows pos 1,2
        ["doc_id", "text"])
    out = {r.doc_id: r for r in duplicate_span_stats(df, n=3).collect()}
    assert (out[1].n_tokens, out[1].n_grams) == (7, 5)
    assert (out[1].n_dup_positions, out[1].dup_covered_tokens) == (2, 6)
    assert out[1].dup_frac == pytest.approx(6 / 7, abs=1e-6)
    assert (out[2].n_dup_positions, out[2].dup_covered_tokens) == (1, 3)
    assert (out[3].n_grams, out[3].n_dup_positions) == (1, 0)
    assert (out[4].n_grams, out[4].dup_covered_tokens, out[4].dup_frac) == (0, 0, 0.0)
    # overlapping windows: 3 + min(3, 1) = 4 tokens = the whole doc
    assert (out[5].n_dup_positions, out[5].dup_covered_tokens) == (2, 4)
    assert out[5].dup_frac == 1.0


def test_normalize_text_nfc_and_whitespace(spark):
    from docling_eval_spark.operators.webtext import normalize_text

    decomposed = "café"          # e + combining acute
    composed = "café"             # precomposed é
    df = spark.createDataFrame(
        [(1, decomposed + "  x"),
         (2, " a\tb\r\nc\x07d "),      # runs, CR/LF, BEL control
         (3, "plain text"),
         (4, "nb sp")],           # NBSP is NOT ASCII whitespace
        ["doc_id", "text"])
    out = {r.doc_id: r for r in normalize_text(df).collect()}
    assert out[1].text_norm == composed + " x" and out[1].text_norm_changed
    assert out[2].text_norm == "a b cd" and out[2].text_norm_changed
    assert out[3].text_norm == "plain text" and not out[3].text_norm_changed
    assert out[4].text_norm == "nb sp" and not out[4].text_norm_changed


def test_normalize_text_keep_newlines(spark):
    from docling_eval_spark.operators.webtext import normalize_text

    df = spark.createDataFrame(
        [(1, "line  one \n\n  line\ttwo\r\nline three ")],
        ["doc_id", "text"])
    out = normalize_text(df, keep_newlines=True).collect()[0]
    assert out.text_norm == "line one\nline two\nline three"
    assert out.text_norm_changed


def test_epoch_shuffle_is_permutation_and_seed_dependent(spark):
    from docling_eval_spark.operators.webtext import epoch_shuffle

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r.shuffle_pos
           for r in epoch_shuffle(df, seed=1).collect()}
    # dense 0-based permutation
    assert sorted(out.values()) == list(range(500))
    # deterministic across calls
    again = {r.doc_id: r.shuffle_pos
             for r in epoch_shuffle(df, seed=1).collect()}
    assert again == out
    # a different epoch seed produces a different order
    other = {r.doc_id: r.shuffle_pos
             for r in epoch_shuffle(df, seed=2).collect()}
    assert other != out
    # coarser bucketing must not change the order
    coarse = {r.doc_id: r.shuffle_pos
              for r in epoch_shuffle(df, seed=1, prefix_len=1).collect()}
    assert coarse == out


def test_epoch_shuffle_prefix_length_equivalence(spark):
    """The hex-prefix length sets only the PARTITION boundaries of the
    distributed rank, never the total order: every prefix_len must
    produce the identical permutation, and a longer prefix must shrink
    the largest window partition (the per-task sort input)."""
    from docling_eval_spark.operators.webtext import epoch_shuffle

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    by_len = {}
    for plen in (1, 2, 3, 4):
        by_len[plen] = {r.doc_id: r.shuffle_pos for r in
                        epoch_shuffle(df, seed=3, prefix_len=plen).collect()}
    assert by_len[1] == by_len[2] == by_len[3] == by_len[4]
    assert sorted(by_len[4].values()) == list(range(4000))

    # bucket-population evidence: max bucket shrinks as the domain widens
    def max_bucket(plen):
        h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":3")))
        return (df.select(F.substring(h, 1, plen).alias("p"))
                .groupBy("p").count().agg(F.max("count")).first()[0])

    assert max_bucket(1) > max_bucket(2) > max_bucket(3)


def test_gopher_line_flags_hand_computed(spark):
    from docling_eval_spark.operators.webtext import gopher_line_flags

    listicle = "\n".join(["- item one", "* item two", "• item three",
                          "plain line"])           # 3/4 bullets
    preview = "\n".join(["teaser one ...", "teaser two…", "full line"])
    clean = "just\nnormal\nlines"
    df = spark.createDataFrame(
        [(1, listicle), (2, preview), (3, clean)], ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_line_flags(df).collect()}
    assert out[1].bullet_line_frac == pytest.approx(0.75)
    assert out[1].flag_bullet and out[1].gopher_line_pass
    assert out[2].ellipsis_line_frac == pytest.approx(2 / 3, abs=1e-6)
    assert not out[2].flag_ellipsis and not out[2].gopher_line_pass
    assert out[3].bullet_line_frac == 0.0
    assert out[3].ellipsis_line_frac == 0.0 and out[3].gopher_line_pass

    strict = gopher_line_flags(df, max_bullet_frac=0.5).collect()
    assert not {r.doc_id: r for r in strict}[1].flag_bullet


def test_select_token_budget_hand_computed(spark):
    from docling_eval_spark.operators.webtext import select_token_budget

    # scores: doc 3 best, then 1, then tie (2, 4) broken by key
    rows = [(1, 5.0, "w w w w"),     # 4 tokens, cum 7
            (2, 1.0, "w w w"),       # 3 tokens, cum 10 (tie, key 2 first)
            (3, 9.0, "w w w"),       # 3 tokens, cum 3
            (4, 1.0, "w w")]         # 2 tokens, cum 12
    df = spark.createDataFrame(rows, ["doc_id", "score", "text"])
    out = {r.doc_id: r for r in
           select_token_budget(df, budget=8, score_col="score").collect()}
    # budget 8: doc 3 (before 0), doc 1 (before 3), doc 2 (before 7 <
    # 8 -> boundary doc kept), doc 4 (before 10 -> dropped)
    assert set(out) == {1, 2, 3}
    assert out[3].tok_before == 0
    assert out[1].tok_before == 3
    assert out[2].tok_before == 7
    # tight budget keeps only the best doc
    top = select_token_budget(df, budget=1, score_col="score").collect()
    assert [r.doc_id for r in top] == [3]


def _token_budget_reference(rows, budget):
    """Pure-Python single-pass reference: (score desc, key asc) walk."""
    out = {}
    before = 0
    for key, score, text in sorted(rows, key=lambda r: (-r[1], r[0])):
        n = len(text.split())
        if before < budget:
            out[key] = (n, before)
        before += n
    return out


def test_select_token_budget_all_tied_scores_bounded(spark):
    """Gopher-style quality scores tie heavily; with every score
    IDENTICAL the old single-level score bucketing collapsed the whole
    corpus into one window partition (a near-global single-task sort).
    The tie refinement must (a) keep the result byte-identical to the
    global order and (b) bound every window partition by the key-range
    cell size."""
    from docling_eval_spark.operators.webtext import select_token_budget

    n, nb = 20_000, 16
    rows = [(i, 3.0, "w " * (1 + i % 5)) for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "score", "text"]) \
        .repartition(8)
    budget = 30_000
    got = {r.doc_id: (r.n_tokens, r.tok_before) for r in
           select_token_budget(df, budget=budget, score_col="score",
                               n_buckets=nb,
                               max_partition_rows=1000).collect()}
    assert got == _token_budget_reference(
        [(i, s, t.strip()) for i, s, t in rows], budget)
    # partition bound: with all scores tied the refinement splits by
    # arithmetic key range — every cell holds ceil(n / nb)-ish rows,
    # never the whole corpus
    kwidth = (n - 1) // nb + 1
    assert kwidth < n / 4  # the cell bound is a real bound


def test_select_token_budget_clustered_scores_fine_grid(spark):
    """Continuous-but-clustered scores (many distinct values in a
    narrow band) take the fine-grid refinement; the result must still
    match the global (score desc, key asc) order."""
    from docling_eval_spark.operators.webtext import select_token_budget

    # 5000 distinct scores packed into [0.50, 0.55); plus outliers that
    # spread the global range so the cluster lands in ONE coarse bucket
    rows = [(i, 0.50 + (i % 5000) * 1e-5, "w " * (1 + i % 3))
            for i in range(5000)]
    rows += [(9001, 100.0, "w w"), (9002, -100.0, "w")]
    df = spark.createDataFrame(rows, ["doc_id", "score", "text"])
    budget = 4000
    got = {r.doc_id: (r.n_tokens, r.tok_before) for r in
           select_token_budget(df, budget=budget, score_col="score",
                               n_buckets=8,
                               max_partition_rows=500).collect()}
    assert got == _token_budget_reference(
        [(i, s, t.strip()) for i, s, t in rows], budget)


def test_select_token_budget_mixed_hot_and_cold(spark):
    """Hot tie buckets, a hot clustered bucket, and cold buckets in the
    same corpus: the driver-side global partition ordering must stitch
    their offsets into one exact prefix sum."""
    from docling_eval_spark.operators.webtext import select_token_budget

    rows = [(i, 5.0, "w w") for i in range(300)]              # tie block
    rows += [(1000 + i, 2.0 + i * 1e-6, "w w w")
             for i in range(300)]                             # cluster
    rows += [(2000 + i, float(-i), "w") for i in range(20)]   # cold tail
    df = spark.createDataFrame(rows, ["doc_id", "score", "text"])
    budget = 1000
    got = {r.doc_id: (r.n_tokens, r.tok_before) for r in
           select_token_budget(df, budget=budget, score_col="score",
                               n_buckets=4,
                               max_partition_rows=50).collect()}
    assert got == _token_budget_reference(
        [(i, s, t.strip()) for i, s, t in rows], budget)


def test_duplicate_span_stats_hot_gram_cap(spark):
    from docling_eval_spark.operators.webtext import duplicate_span_stats

    # "h h h" is corpus-hot (4 occurrences); "a b c" repeats only twice
    df = spark.createDataFrame(
        [(1, "h h h x a b c"), (2, "h h h y a b c"),
         (3, "h h h z"), (4, "h h h w")],
        ["doc_id", "text"])
    uncapped = {r.doc_id: r.n_dup_positions
                for r in duplicate_span_stats(df, n=3).collect()}
    assert uncapped[1] > 1 and uncapped[3] == 1
    capped = {r.doc_id: r for r in duplicate_span_stats(
        df, n=3, max_gram_count=3).collect()}
    # the hot gram is excluded everywhere; "a b c" (count 2) survives
    assert capped[3].n_dup_positions == 0
    assert capped[1].n_dup_positions == 1
    assert capped[1].dup_covered_tokens == 3


def test_temperature_mix_rates_published_rule():
    """mT5 alpha-smoothing: r_s ∝ n_s^(alpha-1). With budget=None the
    rarest stratum is kept whole; a budget caps the expected output."""
    import math

    from docling_eval_spark.operators.webtext import temperature_mix_rates

    counts = {"en": 900, "de": 100, "fr": 25}
    r = temperature_mix_rates(counts, alpha=0.5)
    assert r["fr"] == 1.0
    assert r["de"] == math.sqrt(25 / 100)
    assert r["en"] == math.sqrt(25 / 900)
    # expected takes follow q_s ∝ sqrt(p_s): 30/10/5 ratio == sqrt ratio
    takes = {s: r[s] * counts[s] for s in counts}
    assert abs(takes["en"] / takes["de"] - 3.0) < 1e-12
    assert abs(takes["de"] / takes["fr"] - 2.0) < 1e-12

    # alpha=1 is proportional sampling: every rate equal (no reshaping)
    r1 = temperature_mix_rates(counts, alpha=1.0)
    assert len({round(v, 12) for v in r1.values()}) == 1

    # explicit budget: expected output ~= budget, capped at 1 per stratum
    rb = temperature_mix_rates(counts, alpha=0.5, budget=200)
    exp = sum(rb[s] * counts[s] for s in counts)
    assert abs(exp - 200) < 1e-9 and all(v <= 1.0 for v in rb.values())


def test_temperature_mix_deterministic_and_flattening(spark):
    from docling_eval_spark.operators.webtext import temperature_mix

    rows = [(i, "en" if i % 10 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out1 = sorted(r["doc_id"] for r in
                  temperature_mix(df, alpha=0.5, salt="s").collect())
    out2 = sorted(r["doc_id"] for r in
                  temperature_mix(df, alpha=0.5, salt="s").collect())
    assert out1 == out2 and out1
    kept = temperature_mix(df, alpha=0.5, salt="s") \
        .groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in kept}
    # rarest stratum whole; head flattened to ~sqrt ratio (9:1 -> 3:1)
    assert by["fr"] == 100
    assert 200 < by["en"] < 400


def test_stupid_backoff_published_formula(spark):
    """Brants 2007: S = c(prev,cur)/c(prev) when seen, else
    0.4 * c(cur)/N; OOV cur takes the half-count floor. Both join
    paths (broadcast / shuffled-hash fallback) are row-identical."""
    import math

    from docling_eval_spark.operators.webtext import stupid_backoff_logprob

    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c")], ["doc_id", "text"])
    score = spark.createDataFrame(
        [(10, "a b c"), (11, "c a"), (12, "x a"), (13, "solo")],
        ["doc_id", "text"])
    out = {r["doc_id"]: (r["n_pairs"], r["sb_nll"]) for r in
           stupid_backoff_logprob(score, train_df=train).collect()}
    # train: unigrams a:3 b:3 c:2 (N=8); bigrams (a,b):3 (b,a):1 (b,c):2
    assert out[10] == (2, round((-math.log(3 / 3) - math.log(2 / 3)) / 2, 6))
    assert out[11] == (1, round(-math.log(0.4 * 3 / 8), 6))  # backoff
    assert out[12] == (1, round(-math.log(0.4 * 3 / 8), 6))  # OOV prev
    assert 13 not in out                                     # <2 tokens
    # OOV cur: half-count floor, never -ln(0)
    oov = {r["doc_id"]: r["sb_nll"] for r in stupid_backoff_logprob(
        spark.createDataFrame([(20, "a zzz")], ["doc_id", "text"]),
        train_df=train).collect()}
    assert oov[20] == round(-math.log(0.4 * 0.5 / 8), 6)
    # self-scoring never backs off (every bigram is in its own model)
    self_nll = {r["doc_id"]: r["sb_nll"] for r in
                stupid_backoff_logprob(train).collect()}
    assert self_nll[2] == round((-math.log(3 / 3) - math.log(2 / 3)) / 2, 6)
    # shuffled-hash fallback path row-identical
    nb = {r["doc_id"]: (r["n_pairs"], r["sb_nll"]) for r in
          stupid_backoff_logprob(score, train_df=train,
                                 broadcast_max_pairs=1).collect()}
    assert nb == out


def test_stupid_backoff_counts_one_token_documents(spark):
    """Unigram counts and N come from every training token, including
    a 1-token document's (Brants; the stupid_backoff_nll oracle); only
    bigram extraction needs two tokens."""
    import math

    from docling_eval_spark.operators.webtext import stupid_backoff_logprob

    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c"), (3, "c")], ["doc_id", "text"])
    score = spark.createDataFrame(
        [(10, "a b c"), (11, "a c"), (12, "c zzz")], ["doc_id", "text"])
    out = {r["doc_id"]: (r["n_pairs"], r["sb_nll"]) for r in
           stupid_backoff_logprob(score, train_df=train).collect()}
    # unigrams a:3 b:3 c:3 (N=9); bigrams (a,b):3 (b,a):1 (b,c):2
    assert out[10] == (2, round((-math.log(3 / 3) - math.log(2 / 3)) / 2, 6))
    assert out[11] == (1, round(-math.log(0.4 * 3 / 9), 6))  # backoff, c(c)=3
    assert out[12] == (1, round(-math.log(0.4 * 0.5 / 9), 6))  # OOV floor / N
    # the 1-token document scores nothing, but its token still counts
    self_nll = {r["doc_id"] for r in stupid_backoff_logprob(train).collect()}
    assert self_nll == {1, 2}


def test_c4_badwords_page_gate(spark):
    """C4 §2.2's badlist rule: a page containing any blocklisted
    token drops, case-insensitively and with the token's leading and
    trailing punctuation stripped; the default (no list) leaves
    behavior unchanged."""
    from docling_eval_spark.operators.webtext import c4_page_filter

    rows = [
        (1, "a clean line with enough words here today."),
        (2, "a line mentioning ZZZBAD among enough words here."),
        (3, "zzzbadish is a different token so this page keeps."),
        (4, "a line that ends on the word zzzbad."),
        (5, "zzzbad, followed by enough words here."),
        (6, "quoted (ZZZBAD) or \"zzzbad\" in the middle here."),
        (7, "zzz-bad and bad-zzzbadish and zzzbad's keep this page."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["keep"] for r in c4_page_filter(
        df, min_words_per_line=1, min_kept_lines=1,
        badwords=["zzzbad"]).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False, 5: False,
                   6: False, 7: True}
    # no list -> no gate
    base = {r["doc_id"]: r["keep"] for r in c4_page_filter(
        df, min_words_per_line=1, min_kept_lines=1).collect()}
    assert base == dict.fromkeys(range(1, 8), True)
