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


def test_full_repetition_stats_hand_computed(spark):
    from docling_eval_spark.operators.webtext import full_repetition_stats

    # 3 lines, "r r" twice -> dup_line_frac 2/3; chars 3+3+3 ->
    # dup_line_char_frac 6/9
    df = spark.createDataFrame(
        [(1, "r r\nx y\nr r")], ["doc_id", "text"])
    out = full_repetition_stats(df).collect()[0]
    assert out.dup_line_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out.dup_line_char_frac == pytest.approx(6 / 9, abs=1e-6)
    # word stream r,r,x,y,r,r -> grams "r r","r x","x y","y r","r r":
    # "r r" twice, chars of "rr" = 2, word chars = 6
    assert out.top2gram_char_frac == pytest.approx(2 * 2 / 6, abs=1e-6)


def test_full_repetition_tie_breaks_by_earliest_occurrence(spark):
    from docling_eval_spark.operators.webtext import full_repetition_stats

    # "cc d", "d a", "a b" each occur twice; "cc d" occurs first, so it
    # wins: 2 * 3 chars / 10 word chars (the smallest gram, "a b",
    # would give 2 * 2 / 10)
    df = spark.createDataFrame([(1, "cc d a b cc d a b")],
                               ["doc_id", "text"])
    out = full_repetition_stats(df).collect()[0]
    assert out.top2gram_char_frac == pytest.approx(0.6, abs=1e-6)


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

    from docling_eval_spark.operators.webtext import (
        GOPHER_REPETITION_THRESHOLDS)

    words = (text or "").split()
    wchars = sum(len(w) for w in words)
    if wchars == 0:     # no word characters: the NULL-text row
        return dict.fromkeys(GOPHER_REPETITION_THRESHOLDS)
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
        c = Counter(grams)      # no n-grams: nothing covered, 0.0
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


def test_full_repetition_stats_text_without_words(spark):
    """A text with no word characters gets a NULL text's row: every
    fraction NULL and the pass flag true. Runs under the session's
    ANSI mode, where dividing by its zero word characters raises."""
    from docling_eval_spark.operators.webtext import full_repetition_stats

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = [(1, ""), (2, "   "), (3, "\n\n"), (4, None),
            (5, "a b c a b c a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in
           full_repetition_stats(df).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    for doc_id, text in rows:
        want = _py_full_repetition(text)
        for col, val in want.items():
            g = got[doc_id][col]
            assert (g is None and val is None) or \
                g == pytest.approx(val, abs=1e-6), (doc_id, col, g, val)
        if doc_id != 5:
            assert got[doc_id]["gopher_repetition_pass"], doc_id


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

def _en_and_null_langs(spark):
    rows = [(i, "en") for i in range(100)] + \
        [(100 + i, None) for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_temperature_mix_null_stratum_is_rarest(spark):
    """NULL lang is a stratum: with 5 NULL rows against 100 en rows it
    is the rarest and takes rate 1.0, so every NULL row survives."""
    from docling_eval_spark.operators.webtext import temperature_mix

    rows = temperature_mix(_en_and_null_langs(spark), salt="s").collect()
    assert sorted(r.doc_id for r in rows if r.lang is None) == \
        list(range(100, 105))
    assert 0 < sum(r.lang == "en" for r in rows) < 100


@pytest.mark.parametrize("rates,want", [
    ({None: 1.0, "en": 0.0}, range(100, 105)),
    ({None: 0.0, "en": 1.0}, range(100)),
    ({None: 1.0}, range(100, 105)),
    ({"en": 1.0}, range(100)),      # a stratum absent from the map drops
])
def test_stratified_hash_sample_null_stratum(spark, rates, want):
    from docling_eval_spark.operators.webtext import stratified_hash_sample

    out = stratified_hash_sample(_en_and_null_langs(spark), rates)
    assert sorted(r.doc_id for r in out.collect()) == list(want)


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


def _rank_reference(rows):
    """Pure-Python rank and thirds: (score asc, key asc) sort."""
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    return {key: (rank, ("head", "middle", "tail")[min(rank * 3 // len(rows),
                                                       2)])
            for rank, (key, _) in enumerate(order)}


def _ranks(spark, rows, cap):
    from docling_eval_spark.operators.caching import release_caches
    from docling_eval_spark.operators.webtext import perplexity_buckets

    df = spark.createDataFrame(rows, ["doc_id", "unigram_nll"]) \
        .repartition(8)
    out = perplexity_buckets(df, max_partition_rows=cap)
    got = {r.doc_id: (r.ppl_rank, r.ppl_bucket) for r in out.collect()}
    release_caches(out)
    return got


def test_perplexity_rank_all_tied_scores(spark):
    """LM scores can tie wholesale; with every score IDENTICAL a plain
    score bucketing would put the whole corpus in one window
    partition. The tie refinement splits the one hot bucket by
    arithmetic key range and must keep the global (score, key) rank."""
    rows = [(i, 3.0) for i in range(20_000)]
    assert _ranks(spark, rows, 1000) == _rank_reference(rows)


def test_perplexity_rank_clustered_scores_fine_grid(spark):
    """Continuous-but-clustered scores (many distinct values in a
    narrow band) take the fine-grid refinement; the rank must still
    match the global (score asc, key asc) order."""
    # 5000 distinct scores packed into [0.50, 0.55); plus outliers that
    # spread the global range so the cluster lands in ONE coarse bucket
    rows = [(i, 0.50 + (i % 5000) * 1e-5) for i in range(5000)]
    rows += [(9001, 100.0), (9002, -100.0)]
    assert _ranks(spark, rows, 500) == _rank_reference(rows)


def test_perplexity_rank_mixed_hot_and_cold(spark):
    """Hot tie buckets, a hot clustered bucket, and cold buckets in the
    same corpus: the driver-side global partition ordering must stitch
    their offsets into one exact prefix sum."""
    rows = [(i, 5.0) for i in range(300)]                       # tie block
    rows += [(1000 + i, 2.0 + i * 1e-6) for i in range(300)]    # cluster
    rows += [(2000 + i, float(-i)) for i in range(20)]          # cold tail
    assert _ranks(spark, rows, 50) == _rank_reference(rows)


@pytest.mark.parametrize("op", ["perplexity_buckets",
                                "perplexity_buckets_by_lang"])
def test_perplexity_buckets_empty_input(spark, op):
    from docling_eval_spark.operators import webtext

    df = spark.createDataFrame([], "doc_id long, lang string, "
                                   "unigram_nll double")
    out = getattr(webtext, op)(df)
    assert out.collect() == []
    assert out.columns[-2:] == ["ppl_rank", "ppl_bucket"]


def test_perplexity_buckets_by_lang_null_lang_is_a_language(spark):
    """NULL-lang rows rank among themselves, like any other language."""
    from docling_eval_spark.operators.webtext import (
        perplexity_buckets_by_lang)

    rows = [(i, "en" if i % 3 else None, float(i % 7)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, "
                                     "unigram_nll double")
    got = {r.doc_id: (r.ppl_rank, r.ppl_bucket)
           for r in perplexity_buckets_by_lang(df).collect()}
    want = {}
    for lang in ("en", None):
        want.update(_rank_reference(
            [(i, s) for i, g, s in rows if g == lang]))
    assert got == want


def test_perplexity_buckets_quartile_labels(spark):
    from docling_eval_spark.operators.webtext import perplexity_buckets

    rows = [(i, float((i * 7) % 10)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "unigram_nll"])
    labels = ("q1", "q2", "q3", "q4")
    got = {r.doc_id: (r.ppl_rank, r.ppl_bucket) for r in
           perplexity_buckets(df, labels=labels).collect()}
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    assert got == {k: (rank, labels[rank * 4 // 40])
                   for rank, (k, _) in enumerate(order)}


@pytest.mark.parametrize("cap", [None, 2])
def test_perplexity_rank_null_scores_last(spark, cap):
    """A NULL score ranks after every score, in the cold plan and when
    the bucket holding it is refined."""
    rows = [(i, None if i % 4 == 0 else float(i % 3)) for i in range(12)]
    order = sorted(rows, key=lambda r: (r[1] is None, r[1] or 0.0, r[0]))
    want = {k: (rank, ("head", "middle", "tail")[rank * 3 // len(rows)])
            for rank, (k, _) in enumerate(order)}
    assert _ranks(spark, rows, cap) == want


def test_perplexity_rank_string_key_without_refinement(spark):
    """Without a hot bucket no key arithmetic runs, so a string key
    breaks score ties in ORDER BY key order: "1" < "10" < "100" < "2"."""
    from docling_eval_spark.operators.webtext import perplexity_buckets

    keys = ("1", "2", "9", "10", "11", "100")
    df = spark.createDataFrame([(k, 1.0) for k in keys],
                               ["doc_id", "unigram_nll"])
    got = {r.doc_id: r.ppl_rank for r in
           perplexity_buckets(df, max_partition_rows=None).collect()}
    assert got == {k: rank for rank, k in enumerate(sorted(keys))}


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


def test_temperature_mix_budget(spark):
    """An explicit document budget scales every stratum's rate so the
    expected output is the budget, each rate capped at 1."""
    from docling_eval_spark.operators.webtext import (
        hash_sample, temperature_mix, temperature_mix_rates)

    rows = [(i, "en" if i % 10 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = temperature_mix_rates({"en": 900, "fr": 100}, budget=300)
    kept = {(r.doc_id, r.lang) for r in
            temperature_mix(df, salt="s", budget=300).collect()}
    # each stratum keeps exactly hash_sample's rows at its own rate
    for lang, rate in rates.items():
        part = df.where(F.col("lang") == lang)
        assert {d for d, g in kept if g == lang} == {
            r.doc_id for r in hash_sample(part, rate=rate,
                                          salt="s").collect()}
    assert 250 < len(kept) < 350


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
