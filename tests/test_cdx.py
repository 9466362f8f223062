"""CDXJ index source: native parse, SURT host reversal, and the
index-first fetch-manifest pipeline (select -> latest -> digest-dedup
-> per-archive ordered byte ranges)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _line(surt, ts, **kw):
    import json
    return f"{surt} {ts} {json.dumps(kw)}"


_CAPS = [
    _line("org,example)/a", "20240101000000", url="https://example.org/a",
          mime="text/html", status="200", digest="sha1:AAA",
          length="100", offset="0", filename="w1.warc.gz"),
    _line("org,example)/a", "20240201000000", url="https://example.org/a",
          mime="text/html", status="200", digest="sha1:BBB",
          length="120", offset="200", filename="w2.warc.gz"),
    _line("org,example)/b", "20240101000000", url="https://example.org/b",
          mime="text/html", status="200", digest="sha1:BBB",
          length="120", offset="400", filename="w1.warc.gz"),
    _line("org,example)/c", "20240101000000", url="https://example.org/c",
          mime="application/pdf", status="200", digest="sha1:CCC",
          length="9", offset="600", filename="w1.warc.gz"),
    _line("org,example)/d", "20240101000000", url="https://example.org/d",
          mime="text/html", status="404", digest="sha1:DDD",
          length="9", offset="800", filename="w1.warc.gz"),
    "torn line without a json block",
]


class TestCdx:
    def test_parse_native_and_torn_lines(self, spark):
        from docling_eval_spark.sources.cdx import parse_cdxj

        df = spark.createDataFrame([(l,) for l in _CAPS], ["line"])
        caps = parse_cdxj(df)
        # the whole parse is JVM expressions — no Python stage
        plan = caps._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        rows = caps.collect()
        ok = [r for r in rows if r["offset"] is not None]
        assert len(ok) == 5 and len(rows) == 6
        a = min(ok, key=lambda r: r["offset"])
        assert (a["surt_key"], a["status"], a["length"],
                a["warc_filename"]) == ("org,example)/a", 200, 100,
                                        "w1.warc.gz")
        assert str(a["capture_ts"]).startswith("2024-01-01")
        torn = [r for r in rows if r["offset"] is None][0]
        assert torn["capture_ts"] is None and torn["url"] is None

    def test_surt_host_reversal(self, spark):
        from docling_eval_spark.sources.cdx import surt_host

        df = spark.createDataFrame(
            [("com,example,sub)/x",), ("org,example)/",)], ["k"])
        hosts = [r[0] for r in
                 df.select(surt_host(F.col("k"))).collect()]
        assert hosts == ["sub.example.com", "example.org"]

    def test_manifest_select_latest_dedup(self, spark):
        from docling_eval_spark.sources.cdx import (
            cdx_fetch_manifest, parse_cdxj)

        caps = parse_cdxj(
            spark.createDataFrame([(l,) for l in _CAPS], ["line"]))
        man = cdx_fetch_manifest(caps).collect()
        # /c (pdf) and /d (404) selected out; /a collapses to its
        # latest capture whose payload digest equals /b's, and the
        # digest winner is the min-(ts, url) capture -> only /b
        assert len(man) == 1
        r = man[0]
        assert (r["url"], r["warc_filename"], r["offset"],
                r["length"], r["digest"]) == (
            "https://example.org/b", "w1.warc.gz", 400, 120, "sha1:BBB")

    def test_manifest_keeps_every_digestless_capture(self, spark):
        from docling_eval_spark.sources.cdx import (
            cdx_fetch_manifest, parse_cdxj)

        def cap(path, offset, **kw):
            return _line(f"org,example)/{path}", "20240101000000",
                         url=f"https://example.org/{path}", mime="text/html",
                         status="200", length="10", offset=str(offset),
                         filename="w1.warc.gz", **kw)

        lines = [cap("x", 0), cap("y", 100),
                 cap("s1", 200, digest="sha1:SAME"),
                 cap("s2", 300, digest="sha1:SAME")]
        man = cdx_fetch_manifest(parse_cdxj(
            spark.createDataFrame([(l,) for l in lines], ["line"]))).collect()
        # no digest says nothing about the payload: both urls survive,
        # while the shared non-null digest still collapses to one capture
        assert sorted((r["url"], r["digest"]) for r in man) == [
            ("https://example.org/s1", "sha1:SAME"),
            ("https://example.org/x", None),
            ("https://example.org/y", None)]

    def test_manifest_orders_ranges_within_archive(self, spark):
        from docling_eval_spark.sources.cdx import (
            cdx_fetch_manifest, parse_cdxj)

        lines = [
            _line(f"org,example)/p{i}", "20240101000000",
                  url=f"https://example.org/p{i}", mime="text/html",
                  status="200", digest=f"sha1:{i}", length="10",
                  offset=str((37 * i) % 100 * 10),
                  filename=f"w{i % 2}.warc.gz")
            for i in range(20)
        ]
        caps = parse_cdxj(spark.createDataFrame([(l,) for l in lines],
                                                ["line"]))
        man = cdx_fetch_manifest(caps)
        # within each partition, ranges must be forward-seek ordered
        def check(it):
            last = {}
            for row in it:
                key = row["warc_filename"]
                assert key not in last or row["offset"] >= last[key]
                last[key] = row["offset"]
                yield row
        assert len(man.rdd.mapPartitions(
            lambda it: check(it)).collect()) == 20


class TestIndexAndRangedFetch:
    def _archives(self, spark, n1=5, n2=3):
        from datetime import datetime, timezone

        from docling_eval_spark.sources.warc import build_warc

        def recs(n, ts, suffix=""):
            return [(f"https://h{i}.example/p{i}",
                     ts, f"<html>doc {i}{suffix}</html>".encode())
                    for i in range(n)]
        t1 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        t2 = datetime(2024, 2, 1, tzinfo=timezone.utc)
        return spark.createDataFrame(
            [("w1.warc.gz", bytearray(build_warc(recs(n1, t1)))),
             ("w2.warc.gz", bytearray(build_warc(recs(n2, t2, " v2"))))],
            "path string, content binary")

    def test_index_recovers_member_ranges(self, spark):
        import gzip

        from docling_eval_spark.sources.cdx import index_warc_members
        from docling_eval_spark.sources.warc import parse_warc

        arch = self._archives(spark)
        payload = bytes(arch.where("path = 'w1.warc.gz'")
                        .collect()[0]["content"])
        rows = (index_warc_members(arch)
                .where("warc_filename = 'w1.warc.gz'")
                .orderBy("offset").collect())
        assert len(rows) == 5 and rows[0]["offset"] == 0
        # contiguous member framing: next offset == offset + length
        for a, b in zip(rows, rows[1:]):
            assert b["offset"] == a["offset"] + a["length"]
        assert rows[-1]["offset"] + rows[-1]["length"] == len(payload)
        # each range decodes STANDALONE to exactly its record
        r = rows[2]
        member = gzip.decompress(
            payload[r["offset"]:r["offset"] + r["length"]])
        recs, bad = parse_warc(member)
        assert bad == 0 and len(recs) == 1
        assert recs[0]["url"] == r["url"] == "https://h2.example/p2"
        assert (r["status"], r["mime"]) == (200, "text/html")
        assert r["surt_key"] == "example,h2)/p2"

    def test_plain_archives_yield_no_index(self, spark):
        from datetime import datetime, timezone

        from docling_eval_spark.sources.cdx import index_warc_members
        from docling_eval_spark.sources.warc import build_warc

        t = datetime(2024, 1, 1, tzinfo=timezone.utc)
        plain = build_warc([("https://x.example/", t, b"<html/>")],
                           gzip_members=False)
        arch = spark.createDataFrame(
            [("plain.warc", bytearray(plain))],
            "path string, content binary")
        assert index_warc_members(arch).count() == 0

    def test_ranged_fetch_end_to_end(self, spark):
        from docling_eval_spark.sources.cdx import (
            cdx_fetch_manifest, fetch_manifest_records,
            index_warc_members)

        arch = self._archives(spark)
        idx = index_warc_members(arch)
        out = fetch_manifest_records(cdx_fetch_manifest(idx), arch)
        rows = {r["url"]: bytes(r["html"]).decode() for r in out.collect()}
        # latest-capture collapse: h0-h2 come from w2 (v2), h3-h4 w1
        assert rows == {
            f"https://h{i}.example/p{i}":
                f"<html>doc {i}{' v2' if i < 3 else ''}</html>"
            for i in range(5)}


def test_extract_job_cdx_index_first(spark, tmp_path):
    """--cdx-index selects captures on the index and decodes only the
    chosen byte ranges: non-html captures never reach extraction, and
    the output matches the full-parse WARC mode for the selected set."""
    import json as _json
    from datetime import datetime, timezone

    from docling_eval_spark.sources.cdx import index_warc_members
    from docling_eval_spark.sources.warc import build_warc
    from jobs.extract_job import main as job_main

    arch = tmp_path / "crawl"
    arch.mkdir()
    def body(i):
        # unique per url, or the manifest's payload-digest dedup
        # (correctly) collapses identical pages to one fetch
        return (f"<html><body><div><p>page {i} "
                + "content words here " * 25
                + "</p></div></body></html>").encode()
    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    (arch / "a.warc.gz").write_bytes(build_warc(
        [(f"https://c.example/{i}", t, body(i)) for i in range(3)]))
    (arch / "b.warc.gz").write_bytes(build_warc(
        [("https://c.example/pdf", t, b"%PDF-fake")],
        mime="application/pdf"))

    idx = index_warc_members(spark.read.format("binaryFile")
                             .load(str(arch))
                             .selectExpr("path", "content")).collect()
    assert len(idx) == 4
    lines = []
    for r in idx:
        blk = {"url": r["url"], "mime": r["mime"],
               "status": str(r["status"]), "digest": r["digest"],
               "length": str(r["length"]), "offset": str(r["offset"]),
               "filename": r["warc_filename"].split("/")[-1]}
        ts = r["capture_ts"].strftime("%Y%m%d%H%M%S")
        lines.append(f"{r['surt_key']} {ts} {_json.dumps(blk)}")
    cdx = tmp_path / "index.cdxj"
    cdx.write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "out")
    job_main(["--input-warc", str(arch), "--cdx-index", str(cdx),
              "--output", out, "--lineage", str(tmp_path / "lineage"),
              "--run-id", "cdx1", "--partitions", "4"],
             stop_session=False)
    rows = spark.read.parquet(out).collect()
    # the pdf capture was selected out ON THE INDEX
    assert len(rows) == 3
    assert {r.url for r in rows} == {f"https://c.example/{i}"
                                     for i in range(3)}
    assert all("content words here" in r.extracted_text for r in rows)
