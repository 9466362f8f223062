"""Extraction unit tests: tokenizer, classifier, byte-identity round trip."""

import pytest

from docling_eval_spark.corpus.html_synth import (
    gt_table_html,
    has_table,
    host_for,
    synth_html,
    url_for,
)
from docling_eval_spark.extraction.boilerplate import classify_blocks, extract_main_text
from docling_eval_spark.extraction.html_tokenizer import parse_blocks
from docling_eval_spark.functions.teds import teds_score
from html_reference import reference_blocks

BOILER_PAGE = """<html><head><title>t</title><script>junk()</script></head><body>
<nav><ul><li><a href="/a">Home</a></li><li><a href="/b">About</a></li></ul></nav>
<p>This is the main content paragraph with more than sixteen words in it so the
density rule accepts it directly without needing neighbours at all.</p>
<footer><p>© corp — <a href="/i">Imprint</a></p></footer>
</body></html>"""


class TestTokenizer:
    def test_blocks_and_features(self):
        blocks = parse_blocks(BOILER_PAGE)
        texts = [b.text for b in blocks]
        assert any("main content paragraph" in t for t in texts)
        nav_blocks = [b for b in blocks if b.boiler_ancestor]
        assert nav_blocks, "nav/footer blocks must carry boiler_ancestor"
        main = next(b for b in blocks if "main content" in b.text)
        assert not main.boiler_ancestor
        assert main.link_density == 0.0
        assert main.tag == "p"

    def test_script_and_style_dropped(self):
        blocks = parse_blocks("<body><script>x=1;</script><style>.a{}</style><p>keep this text here ok</p></body>")
        assert all("x=1" not in b.text and ".a{}" not in b.text for b in blocks)

    def test_anchor_chars(self):
        blocks = parse_blocks('<body><p>abc <a href="/x">link</a> def</p></body>')
        b = blocks[0]
        assert b.anchor_chars == 4
        assert b.text == "abc link def"

    def test_entities_decoded(self):
        blocks = parse_blocks("<body><p>a &amp; b &lt; c</p></body>")
        assert blocks[0].text == "a & b < c"

    def test_table_captured_not_in_text(self):
        html = "<body><p>before table words here now yes more words to pass rules ok fine great stuff here</p><table><tr><td>cell</td></tr></table></body>"
        r = extract_main_text(html)
        assert "cell" not in r["text"]
        assert len(r["tables"]) == 1
        assert "<td>cell</td>" in r["tables"][0]

    def test_inline_tags_transparent(self):
        blocks = parse_blocks("<body><p>one <b>two</b> three</p></body>")
        assert blocks[0].text == "one two three"


class TestClassifier:
    def test_boiler_page(self):
        r = extract_main_text(BOILER_PAGE)
        assert r["text"].startswith("This is the main content paragraph")
        assert "Imprint" not in r["text"]
        assert "Home" not in r["text"]
        assert r["n_boiler"] >= 2

    def test_link_density_rule(self):
        blocks = parse_blocks(
            '<body><div><a href="/x">all of this text is one big link and nothing else at all</a></div>'
            "<p>real content paragraph with definitely more than sixteen whole words "
            "written out in plain language for the classifier</p></body>"
        )
        labels = classify_blocks(blocks)
        assert labels == [False, True]

    def test_semantic_article_override_short_text(self):
        html = "<body><nav><a href='/'>x</a></nav><article><p>Tiny text.</p></article></body>"
        r = extract_main_text(html)
        assert r["text"] == "Tiny text."

    def test_heading_promotion(self):
        html = ("<body><h2>Short headline</h2>"
                "<p>body paragraph long enough to be content on its own having way "
                "more than the required sixteen words to trigger the direct rule</p></body>")
        r = extract_main_text(html)
        assert r["text"].startswith("Short headline\n\n")

    def test_spans_emitted(self):
        r = extract_main_text(BOILER_PAGE)
        assert r["n_blocks"] == len(r["spans"])
        assert any(s["is_content"] for s in r["spans"])
        assert all(0.0 <= s["link_density"] <= 1.0 for s in r["spans"])


class TestRoundTrip:
    """Byte-identity oracle gate (north rule) on deterministic synth pages."""

    @pytest.mark.parametrize("doc_id,text,lang", [
        (0, "the fast key order sort table scan merge part window small", "en"),
        (7, "short text", "de"),  # <= 40 words -> forced <article>
        (5, "word " * 80, "fr"),  # has_table(5) -> embedded table page
        (42, "Multi paragraph one with quite some words inside it truly.\n\n"
             "And a second paragraph also fairly long with many words here.", "en"),
        (99, "unicode Ümlauts & späße — ελληνικά 中文 works", "el"),
    ])
    def test_byte_identity(self, doc_id, text, lang):
        text = text.strip()
        html = synth_html(doc_id, text, lang).decode("utf-8")
        r = extract_main_text(html)
        assert r["text"] == text

    def test_table_roundtrip_teds(self):
        doc_id = 10
        assert has_table(doc_id)
        html = synth_html(doc_id, "word " * 50, "en").decode()
        r = extract_main_text(html)
        assert len(r["tables"]) == 1
        assert teds_score(gt_table_html(doc_id), r["tables"][0]) == pytest.approx(1.0)

    def test_determinism(self):
        a = synth_html(123, "some stable text here", "en")
        b = synth_html(123, "some stable text here", "en")
        assert a == b
        assert url_for(123) == url_for(123)

    def test_host_skew(self):
        hosts = [host_for(i) for i in range(2000)]
        # Zipf-ish: the most common host must dominate the median host count
        from collections import Counter
        top = Counter(hosts).most_common(1)[0][1]
        assert top > 50  # heavy head out of 2000 docs across 1000 hosts


class TestHostileHtml:
    """Crash-safety + determinism on malformed/adversarial HTML. Byte
    identity is only promised for generator pages; for arbitrary bytes the
    extractor must never raise and must be a pure function."""

    CASES = [
        b"",
        b"not html at all \xff\xfe garbage",
        b"<html><p>unclosed paragraph<div>and <b>unclosed bold",
        b"<!-- comment only -->",
        b"<script>var s = '<p>fake</p>';</script><p>real body text here now</p>",
        b"<style>p { color: red }</style><p>styled body text content here</p>",
        b"<p>" + b"deep " * 5000 + b"</p>",
        b"<div><div><div><div><div><div><div><div>nested</div></div></div>",
        b"<p>&amp; &lt; &gt; &#65; &unknown; &#x41;</p>",
        b"<table><tr><td>orphan table cell",
        b"<P CLASS='X'>UPPERCASE TAGS AND <A HREF=x>attr soup</A></P>",
        b"<![CDATA[ raw ]]><p>after cdata</p>",
        "<p>unicode ☃ \U0001f600 mixed</p>".encode(),
        b"<p>text</p>" * 3000,
    ]

    @pytest.mark.parametrize("raw", CASES)
    def test_never_raises_and_deterministic(self, raw):
        from docling_eval_spark.extraction.boilerplate import extract_main_text

        html = raw.decode("utf-8", errors="replace")
        r1 = extract_main_text(html)
        r2 = extract_main_text(html)
        assert r1["text"] == r2["text"]
        assert r1["n_blocks"] == r2["n_blocks"]
        assert isinstance(r1["text"], str)

    def test_script_string_not_leaked(self):
        from docling_eval_spark.extraction.boilerplate import extract_main_text

        r = extract_main_text(
            "<script>var s='<p>fake</p>';</script>"
            "<article><p>real body text content here</p></article>")
        assert "fake" not in r["text"]
        assert "real body text" in r["text"]


class TestFastTokenizerParity:
    """The regex tokenizer must produce byte-identical Block output to the
    stdlib-HTMLParser reference sink (tests/html_reference.py) on all
    well-formed input."""

    def test_parity_over_generator_corpus(self):
        import duckdb

        from docling_eval_spark.corpus.html_synth import synth_html

        rows = duckdb.connect().execute(
            "SELECT doc_id, text, lang FROM read_parquet("
            "'/root/testdata/sf0.001/documents.parquet')").fetchall()
        for d, t, l in rows:
            h = synth_html(d, t, l).decode()
            assert parse_blocks(h) == reference_blocks(h), d

    def test_parity_aside_padded_pages(self):
        """Pages padded past the 256 KB heavy threshold with an <aside>
        link list, the heavy tail of the stored-pages benchmark: the same
        blocks as the reference, and the padding is not main text."""
        pad = "<ul>" + "".join(
            f'<li><a href="/more/{i}">Related link {i}</a></li>'
            for i in range(20)) + "</ul>"
        aside = '<aside class="promo">' + pad * (300_000 // len(pad) + 1) + "</aside>"
        for d in (10, 11, 12):  # 10 is a table page
            text = " ".join(["word"] * (30 + 10 * (d - 10)))
            h = synth_html(d, text, "en").decode().replace(
                "</body>", aside + "</body>", 1)
            assert len(h.encode()) > 262_144
            blocks = parse_blocks(h)
            assert blocks == reference_blocks(h), d
            assert len(blocks) > 6000
            assert extract_main_text(h)["text"] == text

    def test_parity_handcrafted(self):
        cases = [
            '<p>a &amp; b</p><script>var x="<p>no</p>";</script><p>c</p>',
            '<div><a href="x>y">link text</a> tail</div>',
            "<P CLASS='u'>UPPER</P><ul><li>one<li>two</ul>",
            '<table id="t"><tr><td colspan="2">c &lt;3</td></tr></table>',
            '<!-- c --><!DOCTYPE html><?pi ?><p>after</p>',
            '<article><p>body &#65;&#x42;</p></article>',
            '<p>br<br/>line<br>next</p>',
            '<style>p:before{content:"<q>"}</style><p>visible words</p>',
            # attributes are parsed only inside a captured table: outside
            # one (and inside a skip region) they must not change a block
            '<div class="a&amp;b" hidden><a href="/x?a=1&amp;b=2" '
            'title=\'q "x"\'>link</a> tail</div>'
            '<table class="t&amp;u" data-x=\'a "b"\' border><tr>'
            '<td colspan=2 nowrap>x &amp; y</td><td/><td class="c&lt;"/>'
            '<td><table id=inner><tr><th abbr="&quot;h&quot;">h</th></tr>'
            '</table></td></tr></table>'
            '<noscript><table id="gone" class="x&lt;y"><tr><td>hidden</td>'
            '</tr></table></noscript><p lang="en" hidden>after the table</p>',
        ]
        for h in cases:
            assert parse_blocks(h) == reference_blocks(h), h

    def test_fast_hostile_no_crash(self):
        from docling_eval_spark.extraction.boilerplate import extract_main_text

        for raw in TestHostileHtml.CASES:
            html = raw.decode("utf-8", errors="replace")
            r = extract_main_text(html)
            assert r == extract_main_text(html)


class TestHostilePinned:
    """main_text and extract_main_text on hostile markup, pinned by
    digest: the stdlib reference recovers from some of these differently,
    so it cannot be the oracle here."""

    CASES = TestHostileHtml.CASES + [
        b"<p>before</p><script>never closed <p>hidden</p>",
        b"<p>a</p><SCRIPT>x='<p>no</p>'</SCRIPT ><p>after upper script</p>",
        b"<p>a</p><script>x</script foo><p>still raw</p></script><p>b</p>",
        b"<style>a{}</ style ><p>after spaced close</p>",
        b"<script/><p>self-closed script keeps text</p><style />b",
        b"<script src=a/>raw until close</script><p>tail</p>",
        b"<nav><form><p>inside form in nav with many words here to count</p></form></nav><p>x</p>",
        b"<aside><article><p>article inside aside</p></article><p>aside tail</p></aside>",
        b"<div title='<p>'>quoted gt <b>bold</b></div><p title=\"a>b\">q</p>",
        b"<p>before comment</p><!-- unclosed comment <p>lost?</p>",
        b"<p>x</p><!-- unclosed comment no gt anywhere",
        b"</p></div></a></article></nav>stray end tags<p>then text</p></li>",
        b"<table><tr><td/><svg/><script/><td>x</td></tr></table><p>after</p>",
        b"<table><tr><td><svg><table><tr><td>in svg</td></tr></table></svg></td></tr></table>",
        b"<a href='x'>link <p>para in link</p> more</a><p>plain text paragraph</p>",
        b"<h2>Head</h2><table><tr><td>t</td></tr></table><p>" + b"word " * 20 + b"</p>",
        b"<p>a < b and c<d and <3 lone</p><p>x<</p>",
        b"<br><br/><p>x<br \n/>y</p><li>item<li>item2",
        b"<table border cellpadding=2 title='a &amp; \"b\"'><tr><th abbr=&lt;x>h</th></tr></table>",
        b"<p>&NotEqualTilde; &amp &#0; &#xD800; &#1114112;</p>",
        b"<main><section><h1>T</h1><p>short</p></section></main><footer>f</footer>",
    ]
    # sha256 of json.dumps([main_text(h), extract_main_text(h)],
    # sort_keys=True), first 16 hex digits, one per case in order
    DIGESTS = " ".join([
        "068a6d203d922fb6 f7909b192911fe45 ddfe05d9da5e2138 068a6d203d922fb6",
        "174eeb6a6674f271 54c9a9dbe91a56a0 52789306a8fc8cc5 87769654aca3e666",
        "9775bd3d4eaa0fe6 068a6d203d922fb6 0e35f0fb76a63dd5 304ca6a75988f891",
        "6fee7d316664b352 e092511c52653dbc 915a131b70fa4863 e610355a7f8e2e10",
        "032a68ae2db3fefb d41a32f77d0b3bc9 dbaae50cc0608374 a3426cc84baa44a1",
        "268bc58b71da278c 3f3e3f52e39abd6a e5c92f2d39163f56 1b718b0354bb0261",
        "e38e52b92726463a c0935109013c7b6e a600aece5cc13245 70019c79949ba9ba",
        "1894b30491454ae7 9c47e5e47910554d 495e1aa0573985e1 d5caf51d545fbb65",
        "521cfcef075d740c 9c9deaefbaf38498 85164ba7223a1caa",
    ]).split()

    @pytest.mark.parametrize("k", range(len(CASES)))
    def test_outputs_pinned(self, k):
        import hashlib
        import json

        from docling_eval_spark.extraction.boilerplate import main_text

        html = self.CASES[k].decode("utf-8", errors="replace")
        got = json.dumps([main_text(html), extract_main_text(html)], sort_keys=True)
        assert len(self.CASES) == len(self.DIGESTS)
        assert hashlib.sha256(got.encode()).hexdigest()[:16] == self.DIGESTS[k]

    def test_main_text_builds_no_block(self, monkeypatch):
        """The extraction kernel runs on block tuples: it must not build
        a Block view (or call parse_blocks) anywhere."""
        from docling_eval_spark.extraction import boilerplate, html_tokenizer

        def boom(*a, **k):
            raise AssertionError("Block built on the main_text path")

        for mod in (html_tokenizer, boilerplate):
            monkeypatch.setattr(mod, "Block", boom, raising=False)
            monkeypatch.setattr(mod, "parse_blocks", boom, raising=False)
        text = " ".join(["word"] * 50)
        r = boilerplate.main_text(synth_html(10, text, "en").decode())
        assert r["text"] == text
        assert r["n_blocks"] > r["n_content"] > 0


class TestReviewRegressions:
    """Regression pins for the round-1 code-review findings."""

    def test_self_closing_tags_fast_engine(self):
        # <table/> must not swallow the document; <nav/> must not poison
        # boiler_ancestor; parity with the stdlib reference on every variant
        cases = [
            "<body><table/><p>hello world text</p></body>",
            "<nav/><article><p>real content body text here</p></article>",
            "<p>a<br/>b</p>",
            '<p><img src="x"/>after image</p>',
            "<td />",
            "<a href=x/>unquoted-slash stays in value</a>",
        ]
        for h in cases:
            fast = parse_blocks(h)
            std = reference_blocks(h)
            assert [(b.text, b.tag, b.boiler_ancestor, b.kind) for b in fast] \
                == [(b.text, b.tag, b.boiler_ancestor, b.kind) for b in std], h
        blocks = parse_blocks(cases[0])
        assert any("hello world" in b.text for b in blocks)

    def test_teds_malformed_span_attrs(self):
        from docling_eval_spark.functions.teds import teds_score

        gt = '<table><tr><td>a</td></tr></table>'
        bad = '<table><tr><td colspan="zzz" rowspan="">a</td></tr></table>'
        assert teds_score(gt, bad) == 1.0  # degrades to span=1, no crash

    def test_table_attr_escaping_roundtrip(self):
        from docling_eval_spark.extraction.html_tokenizer import parse_blocks

        h = '<table><tr><td title="a&quot;b&amp;c">x</td></tr></table>'
        t = [b for b in parse_blocks(h) if b.kind == "table"][0]
        assert 'title="a&quot;b&amp;c"' in t.table_html
        # captured html must reparse to the same cell
        again = [b for b in parse_blocks(t.table_html) if b.kind == "table"][0]
        assert again.table_html == t.table_html

    def test_extract_pages_missing_column_fails_fast(self, spark, sf_dir):
        import pytest
        from docling_eval_spark.corpus.generator import pages_from_documents
        from docling_eval_spark.extraction.extract import extract_pages
        from docling_eval_spark.plans.pipeline import extract_and_score

        pages = pages_from_documents(spark, sf_dir).limit(5)
        for extract in (extract_pages,
                        lambda p: extract_and_score(p, n_partitions=2)):
            with pytest.raises(ValueError, match="missing columns"):
                extract(pages.drop("html"))
            # doc_id optional: synthesized as -1
            out = extract(pages.drop("doc_id")).select("doc_id").collect()
            assert len(out) == 5 and all(r["doc_id"] == -1 for r in out)

    def test_token_count_blank_is_zero(self, spark):
        from pyspark.sql import functions as F
        from docling_eval_spark.operators.text_analysis import token_count

        df = spark.createDataFrame(
            [("",), ("   ",), ("one two",)], "text string")
        got = [r[0] for r in df.select(token_count(F.col("text"))).collect()]
        assert got == [0, 0, 2]

    def test_chain_graph_single_cell(self, spark):
        from pyspark.sql import functions as F
        from docling_eval_spark.functions.kv_graph import chain_graph, classify_kv_cells

        df = spark.range(1, 3).select(F.col("id").cast("int").alias("n"))
        cells, links = chain_graph(F.col("n"))
        out = {r["n"]: [c["label"] for c in r["lab"]]
               for r in df.select("n", classify_kv_cells(cells, links)
                                  .alias("lab")).collect()}
        assert out[1] == ["VALUE"]          # no links: leaf
        assert out[2] == ["KEY", "VALUE"]


class TestUnicodeDeterminism:
    """North-rule hard part: byte-identical extraction must not normalize,
    transcode, or otherwise perturb unicode (SURVEY.md §7 hard part 2).
    NFC and NFD spellings of the same text are DIFFERENT byte sequences
    and must both round-trip untouched."""

    CASES = [
        "café precomposed",          # NFC e-acute
        "café decomposed",          # NFD e + combining acute
        "中文段落 with CJK",
        "Ελληνικά greek",
        "emoji \U0001f600\U0001f9e0 mixed",
        "rtl مرحبا text",
        "zero​width and nbsp joined",
    ]

    @pytest.mark.parametrize("text", CASES)
    def test_exact_bytes_both_engines(self, text):
        from docling_eval_spark.extraction.boilerplate import extract_main_text

        html = f"<article><p>{text}</p></article>"
        r = extract_main_text(html)
        assert r["text"] == text
        assert r["text"].encode("utf-8") == text.encode("utf-8")
        fast = [b.text for b in parse_blocks(html)]
        std = [b.text for b in reference_blocks(html)]
        assert fast == std == [text]

    def test_nfc_nfd_distinct(self):
        import unicodedata

        from docling_eval_spark.extraction.boilerplate import extract_main_text

        nfc = unicodedata.normalize("NFC", "café")
        nfd = unicodedata.normalize("NFD", "café")
        assert nfc != nfd
        a = extract_main_text(f"<article><p>{nfc}</p></article>")["text"]
        b = extract_main_text(f"<article><p>{nfd}</p></article>")["text"]
        assert a == nfc and b == nfd and a != b


class TestReviewRegressions3:
    """Pins for the third (extraction/corpus-focused) review round."""

    @pytest.mark.parametrize("text", [
        "a\n\n\n\nb",            # consecutive blank lines -> empty paragraph
        "p1\n\n \n\np2",         # whitespace-only paragraph
        "\n\nleading blank",
        "trailing blank\n\n",
    ])
    def test_blank_paragraph_byte_identity(self, text):
        from docling_eval_spark.corpus.html_synth import synth_html
        from docling_eval_spark.extraction.boilerplate import extract_main_text

        for doc_id in (1, 2, 7):
            html = synth_html(doc_id, text, "en").decode()
            assert extract_main_text(html)["text"] == text, (doc_id, text)

    def test_pdf_blank_paragraph_byte_identity(self):
        from docling_eval_spark.extraction.pdf_spans import (
            build_pdf_blob,
            parse_pdf_blob,
            spans_to_text,
        )

        for text in ("a\n\n\n\nb", "p1\n\n \n\np2"):
            for d in (0, 1):
                assert spans_to_text(parse_pdf_blob(build_pdf_blob(d, text))) == text

    def test_pdf_large_document_wraps_columns(self):
        from docling_eval_spark.extraction.pdf_spans import (
            build_pdf_blob,
            parse_pdf_blob,
            spans_to_text,
        )

        big = "\n\n".join("para with quite a few words here number %d ok fine" % i
                          for i in range(4000))
        blob = build_pdf_blob(0, big)  # > 5415 lines: must wrap, not crash
        assert spans_to_text(parse_pdf_blob(blob)) == big

    def test_table_in_skip_region_not_captured(self):
        from docling_eval_spark.extraction.html_tokenizer import parse_blocks

        for wrap in ("noscript", "svg", "head"):
            h = f"<{wrap}><table><tr><td>hidden</td></tr></table></{wrap}><p>visible text</p>"
            blocks = parse_blocks(h)
            assert all(b.kind != "table" for b in blocks), wrap
            assert any("visible" in b.text for b in blocks)

    def test_script_inside_table_dropped(self):
        from docling_eval_spark.extraction.html_tokenizer import parse_blocks

        h = "<table><tr><td>x</td></tr><script>var a=1&&2;</script></table>"
        t = [b for b in parse_blocks(h) if b.kind == "table"][0]
        assert "script" not in t.table_html and "a=1" not in t.table_html

    def test_nested_block_restores_enclosing_tag(self):
        from docling_eval_spark.extraction.html_tokenizer import parse_blocks

        blocks = parse_blocks("<li>item<p>inner</p>tail</li>")
        assert [(b.tag, b.text) for b in blocks] == [
            ("li", "item"), ("p", "inner"), ("li", "tail")]
        heads = parse_blocks("<h2>head start<div>x</div>head end</h2>")
        assert heads[-1].is_heading and heads[-1].tag == "h2"

    def test_td_selfclose_and_bool_attrs(self):
        from docling_eval_spark.extraction.html_tokenizer import parse_blocks

        t = [b for b in parse_blocks("<table><tr><td/><td>x</td></tr></table>")
             if b.kind == "table"][0]
        assert "<td></td><td>x</td>" in t.table_html
        t2 = [b for b in parse_blocks('<table><tr><td nowrap>x</td></tr></table>')
              if b.kind == "table"][0]
        assert "<td nowrap>" in t2.table_html

    def test_null_html_degrades(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from docling_eval_spark.corpus.generator import pages_from_documents
        from docling_eval_spark.extraction.extract import extract_pages

        pages = pages_from_documents(spark, sf_dir).limit(4) \
            .withColumn("html", F.when(F.col("doc_id") % 2 == 0, F.col("html")))
        out = extract_pages(pages).collect()
        assert len(out) == 4  # null rows degrade to empty, no task death
        assert any(r["extracted_text"] == "" for r in out)

    def test_replicate_exclude_guard(self, spark, sf_dir):
        from docling_eval_spark.corpus.generator import pages_from_documents

        ex = spark.range(3).selectExpr("id as doc_id")
        with pytest.raises(ValueError, match="replicate"):
            pages_from_documents(spark, sf_dir, replicate=4, exclude=ex)
