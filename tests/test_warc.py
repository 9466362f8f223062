"""WARC source: framing round-trip, HTTP payload parsing, torn-record
accounting, and the archive -> extraction-pipeline integration."""

from __future__ import annotations

import gzip
from datetime import datetime, timezone


def _dt(s: int):
    return datetime.fromtimestamp(s, tz=timezone.utc)


class TestParseWarc:
    def test_roundtrip_gzip_and_plain(self):
        from docling_eval_spark.sources.warc import build_warc, parse_warc

        recs = [("https://a.example/1", _dt(60), b"<html>one</html>"),
                ("https://a.example/2", _dt(120), b"<html>two</html>")]
        for gz in (True, False):
            blob = build_warc(recs, gzip_members=gz)
            got, bad = parse_warc(blob)
            assert bad == 0 and len(got) == 2
            for (url, ts, body), r in zip(recs, got):
                assert r["rec_type"] == "response"
                assert r["url"] == url and r["warc_ts"] == ts
                assert r["http_status"] == 200
                assert r["mime"] == "text/html"
                assert r["body"] == body

    def test_non_latin1_urls_roundtrip(self):
        # a URL outside latin-1 is percent-encoded per record instead of
        # failing the whole archive build
        from urllib.parse import unquote

        from docling_eval_spark.sources.warc import (
            build_warc, build_wet, parse_warc)

        recs = [("https://例え.jp/ü", _dt(60), b"<html>one</html>"),
                ("https://a.example/2", _dt(120), b"<html>two</html>")]
        for build in (build_warc, build_wet):
            got, bad = parse_warc(build(recs))
            assert bad == 0 and len(got) == 2
            assert got[0]["url"] == "https://%E4%BE%8B%E3%81%88.jp/%C3%BC"
            assert [unquote(r["url"]) for r in got] == [u for u, _, _ in recs]
            assert [r["body"] for r in got] == [b for _, _, b in recs]

    def test_ascii_url_punctuation_and_escapes_unchanged(self):
        # reserved characters and existing %-escapes pass through as
        # they are: no double encoding of an already-encoded URL
        from docling_eval_spark.sources.warc import (
            build_warc, build_wet, parse_warc)

        url = "https://a.example/p%20q;v=1/(x)?a=1&b=[2]+c~d!*'@:$,#frag"
        for build in (build_warc, build_wet):
            got, bad = parse_warc(build([(url, _dt(60), b"<p>x</p>")]))
            assert bad == 0 and [r["url"] for r in got] == [url]

    def test_line_break_in_url_cannot_split_the_header(self):
        # a CR/LF inside a URL is escaped, so it can neither end the
        # WARC-Target-URI line nor inject a header of its own
        from docling_eval_spark.sources.warc import (
            build_warc, build_wet, parse_warc)

        url = "https://a.example/x\r\nWARC-Type: bogus"
        for build, rec_type in ((build_warc, "response"),
                                (build_wet, "conversion")):
            got, bad = parse_warc(build([(url, _dt(60), b"<p>x</p>")]))
            assert bad == 0 and len(got) == 1
            assert got[0]["rec_type"] == rec_type
            assert got[0]["url"] == \
                "https://a.example/x%0D%0AWARC-Type:%20bogus"

    def test_gzip_members_are_individually_compressed(self):
        # the .warc.gz contract: one gzip member per record (seekable
        # archives); the blob must decompress as a multi-member stream
        from docling_eval_spark.sources.warc import build_warc

        blob = build_warc([("u1", _dt(0), b"x"), ("u2", _dt(1), b"y")])
        assert blob.count(b"\x1f\x8b\x08") >= 2
        assert b"u1" in gzip.decompress(blob)

    def test_malformed_records_counted_not_raised(self):
        from docling_eval_spark.sources.warc import build_warc, parse_warc

        good = build_warc([("https://ok", _dt(9), b"fine")],
                          gzip_members=False)
        torn = b"GARBAGE NOT A RECORD\r\n" + good \
            + b"WARC/1.0\r\nContent-Length: 99999\r\n\r\nshort"
        got, bad = parse_warc(torn)
        assert len(got) == 1 and got[0]["url"] == "https://ok"
        assert bad == 2  # leading garbage + truncated trailer

    def test_non_response_records_kept_with_raw_block(self):
        from docling_eval_spark.sources.warc import parse_warc

        rec = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
               b"Content-Type: application/warc-fields\r\n"
               b"Content-Length: 9\r\n\r\nrobots: x\r\n\r\n")
        got, bad = parse_warc(rec)
        assert bad == 0 and got[0]["rec_type"] == "warcinfo"
        assert got[0]["body"] == b"robots: x"
        assert got[0]["url"] is None and got[0]["http_status"] is None


class TestWarcRecordsSpark:
    def test_binaryfile_to_rows(self, spark, tmp_path):
        from docling_eval_spark.sources.binary_files import read_binary_files
        from docling_eval_spark.sources.warc import build_warc, warc_records

        for shard in range(2):
            recs = [(f"https://s{shard}.example/{i}", _dt(shard * 100 + i),
                     f"<p>doc {shard}-{i}</p>".encode())
                    for i in range(3)]
            (tmp_path / f"shard{shard}.warc.gz").write_bytes(
                build_warc(recs))
        files = read_binary_files(spark, str(tmp_path))
        rows = warc_records(files).collect()
        assert len(rows) == 6
        got = {r.url: r for r in rows}
        assert bytes(got["https://s1.example/2"].html) == b"<p>doc 1-2</p>"
        assert all(r.n_malformed == 0 for r in rows)
        assert all(r.http_status == 200 for r in rows)

    def test_extract_job_warc_mode_and_resume(self, spark, tmp_path):
        """The production job ingests raw archives end-to-end: WARC ->
        extraction-only output (no GT-relative metric columns), and a
        checkpoint-resume re-run appends nothing."""
        from datetime import timezone

        from docling_eval_spark.sources.warc import build_warc
        from jobs.extract_job import main as job_main

        arch = tmp_path / "crawl"
        arch.mkdir()
        body = ("<html><body><div><p>" + "content words here " * 25
                + "</p></div></body></html>").encode()
        recs = [(f"https://c.example/{i}", _dt(i * 10), body)
                for i in range(4)]
        (arch / "a.warc.gz").write_bytes(build_warc(recs))
        out = str(tmp_path / "out")
        lineage = str(tmp_path / "lineage")

        job_main(["--input-warc", str(arch), "--output", out,
                  "--lineage", lineage, "--run-id", "w1",
                  "--checkpoint-resume", "--partitions", "4"],
                 stop_session=False)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 4
        assert all("content words here" in r.extracted_text for r in rows)
        assert "edit_distance" not in rows[0].asDict()  # no fake scores

        job_main(["--input-warc", str(arch), "--output", out,
                  "--lineage", lineage, "--run-id", "w2",
                  "--checkpoint-resume", "--partitions", "4"],
                 stop_session=False)
        assert spark.read.parquet(out).count() == 4  # idempotent

    def test_extract_job_warc_recrawls_collapse(self, spark, tmp_path):
        """Recrawled URLs are routine in raw WARC input: the job must
        collapse them to the newest snapshot BEFORE assigning doc_id,
        and the id must be the 128-bit md5 of the url (a 64-bit hash
        guarantees collisions at 10^12 docs)."""
        from docling_eval_spark.sources.warc import build_warc
        from jobs.extract_job import main as job_main

        arch = tmp_path / "crawl"
        arch.mkdir()

        def body(tag: str) -> bytes:
            return (f"<html><body><div><p>snapshot {tag} "
                    + "content words here " * 25
                    + "</p></div></body></html>").encode()

        # two urls, one recrawled twice — 5 records, 2 documents
        recs = [("https://r.example/a", _dt(10), body("old")),
                ("https://r.example/a", _dt(30), body("new")),
                ("https://r.example/a", _dt(20), body("mid")),
                ("https://r.example/b", _dt(10), body("only")),
                ("https://r.example/b", _dt(5), body("stale"))]
        (arch / "a.warc.gz").write_bytes(build_warc(recs))
        out = str(tmp_path / "out")
        job_main(["--input-warc", str(arch), "--output", out,
                  "--lineage", str(tmp_path / "lineage"),
                  "--run-id", "rc1", "--partitions", "4"],
                 stop_session=False)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 2                       # one per url
        by_url = {r.url: r for r in rows}
        assert "snapshot new" in by_url["https://r.example/a"].extracted_text
        assert "snapshot only" in by_url["https://r.example/b"].extracted_text
        ids = {r.doc_id for r in rows}
        assert len(ids) == 2
        import hashlib
        assert by_url["https://r.example/a"].doc_id == hashlib.md5(
            b"https://r.example/a").hexdigest()     # 128-bit, derivable

    def test_warc_to_extraction_byte_identical(self, spark, tmp_path):
        """The ingestion edge feeds the flagship extractor: archive ->
        (url, warc_ts, html) -> extract_pages, and the extracted main
        text must byte-match the content the page was built around."""
        from pyspark.sql import functions as F

        from docling_eval_spark.extraction.extract import extract_pages
        from docling_eval_spark.sources.binary_files import read_binary_files
        from docling_eval_spark.sources.warc import build_warc, warc_records

        body = ("<html><body><nav><a href='/'>home</a> <a href='/x'>x"
                "</a></nav><div><p>" + "real content words " * 30
                + "</p></div></body></html>").encode()
        (tmp_path / "one.warc.gz").write_bytes(
            build_warc([("https://w.example/p", _dt(7), body)]))
        pages = warc_records(
            read_binary_files(spark, str(tmp_path))).select(
            F.monotonically_increasing_id().alias("doc_id"),
            "url", "html",
            F.lit("en").alias("lang"), F.lit("").alias("text"))
        out = extract_pages(pages).collect()
        assert len(out) == 1
        assert "real content words" in out[0].extracted_text
        assert "home" not in out[0].extracted_text  # nav is boilerplate


class TestWetExport:
    def test_wet_roundtrip_and_sharding(self, spark):
        from docling_eval_spark.sources.warc import warc_records, wet_export

        rows = [(i, f"https://h{i}.example/p", _dt(0),
                 f"extracted text {i}") for i in range(25)]
        df = spark.createDataFrame(
            rows, "doc_id long, url string, warc_ts timestamp, text string")
        shards = wet_export(df, docs_per_shard=10)
        paths = sorted(r["path"] for r in shards.select("path").collect())
        assert len(paths) == 3 and paths[0] == "shard-00000.warc.wet.gz"
        back = warc_records(shards, responses_only=False)
        got = {r["url"]: (r["rec_type"], r["mime"],
                          bytes(r["html"]).decode()) for r in back.collect()}
        assert len(got) == 25
        assert got["https://h7.example/p"] == (
            "conversion", "text/plain", "extracted text 7")
        # responses_only (the default) must skip conversion records
        assert warc_records(shards).count() == 0

    def test_wet_null_text_is_an_empty_body(self, spark):
        """A row without text becomes a conversion record with an empty
        block, not the word None."""
        from docling_eval_spark.sources.warc import wet_export

        df = spark.createDataFrame(
            [(1, "https://a.example/1", _dt(0), "kept words"),
             (2, "https://a.example/2", _dt(0), None)],
            "doc_id long, url string, warc_ts timestamp, text string")
        (content,) = [bytes(r["content"]) for r in wet_export(df).collect()]
        records = gzip.decompress(content).split(b"WARC/1.0\r\n")[1:]
        bodies = {}
        for rec in records:
            head, body = rec.split(b"\r\n\r\n", 1)
            url = head.split(b"WARC-Target-URI: ")[1].split(b"\r\n")[0]
            length = int(head.split(b"Content-Length: ")[1].split(b"\r\n")[0])
            bodies[url.decode()] = (length, body[:length])
        assert bodies == {"https://a.example/1": (10, b"kept words"),
                          "https://a.example/2": (0, b"")}

    def test_wet_shards_index_through_cdx(self, spark):
        """WET shards keep the record-per-gzip-member framing, so the
        cdx indexer range-indexes them with rec_types=('conversion',)
        and the ranged fetcher recovers the exact text blocks."""
        from docling_eval_spark.sources.cdx import (
            cdx_fetch_manifest, fetch_manifest_records,
            index_warc_members)
        from docling_eval_spark.sources.warc import wet_export

        rows = [(i, f"https://h{i}.example/p", _dt(0),
                 f"unique text {i}") for i in range(8)]
        df = spark.createDataFrame(
            rows, "doc_id long, url string, warc_ts timestamp, text string")
        shards = wet_export(df, docs_per_shard=4)
        assert index_warc_members(shards).count() == 0  # default: responses
        idx = index_warc_members(shards, rec_types=("conversion",))
        assert idx.count() == 8
        man = cdx_fetch_manifest(idx, statuses=(), mimes=("text/plain",))
        out = fetch_manifest_records(man, shards)
        got = {r["url"]: bytes(r["html"]).decode() for r in out.collect()}
        assert got == {f"https://h{i}.example/p": f"unique text {i}"
                       for i in range(8)}
