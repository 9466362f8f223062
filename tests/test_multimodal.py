"""Binary payload metadata tests: the native mime sniff, byte length and
content hash, computed with no Python stage in the plan."""

from __future__ import annotations

from pyspark.sql import functions as F


def _payloads(spark, sf_dir):
    # deterministic payloads: PNG magic + text bytes
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return docs.withColumn(
        "payload",
        F.concat(F.unhex(F.lit("89504E47")), F.encode("text", "utf-8")),
    ).drop("text")


class TestMultimodal:
    def test_payload_metadata_native(self, spark, sf_dir):
        from docling_eval_spark.operators.multimodal import with_payload_metadata

        df = with_payload_metadata(_payloads(spark, sf_dir))
        rows = df.select("payload_meta.*").collect()
        assert all(r["mime"] == "image/png" for r in rows)
        assert all(r["n_bytes"] > 4 for r in rows)
        assert len({r["sha256"] for r in rows}) == len(rows)
        # metadata must be pure JVM expressions: no Python stages in the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

        # the mime table: PNG and JPEG magic, everything else octet-stream
        mixed = spark.createDataFrame([
            (1, bytearray(b"\xff\xd8\xff" + b"jpegbody")),
            (2, bytearray(b"\x89PNG" + b"pngbody")),
            (3, bytearray(b"P6 1 1 255 x")),
            (4, bytearray(b"RIFF\x00\x00\x00\x00WAVEfmt ")),
            (5, bytearray(b"plain bytes")),
        ], "doc_id bigint, payload binary")
        meta = with_payload_metadata(mixed)
        out = {r.doc_id: r.mime for r in
               meta.select("doc_id", "payload_meta.mime").collect()}
        assert out == {1: "image/jpeg", 2: "image/png",
                       3: "application/octet-stream",
                       4: "application/octet-stream",
                       5: "application/octet-stream"}
        plan = meta._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_length_and_hash_match_python(self, spark):
        import hashlib

        from docling_eval_spark.operators.multimodal import with_payload_metadata

        payloads = [b"", b"\x89PNG\r\n", b"\xff\xd8\xff\xe0" * 50,
                    bytes(range(256))]
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "doc_id bigint, payload binary")
        out = {r.doc_id: r for r in with_payload_metadata(df)
               .select("doc_id", "payload_meta.*").collect()}
        for i, p in enumerate(payloads):
            assert out[i].n_bytes == len(p)
            assert out[i].sha256 == hashlib.sha256(p).hexdigest()
        assert out[0].mime == "application/octet-stream"

    def test_magic_must_lead_the_payload(self, spark):
        """Only a full magic prefix at offset 0 names a mime: a shifted
        or cut-short prefix is octet-stream."""
        from docling_eval_spark.operators.multimodal import with_payload_metadata

        df = spark.createDataFrame([
            (1, bytearray(b"x\x89PNG body")),
            (2, bytearray(b"\x89PN")),
            (3, bytearray(b"\xff\xd8")),
            (4, bytearray(b"\x89PNG")),
            (5, bytearray(b"\xff\xd8\xff")),
        ], "doc_id bigint, payload binary")
        out = {r.doc_id: r.mime for r in with_payload_metadata(df)
               .select("doc_id", "payload_meta.mime").collect()}
        assert out == {1: "application/octet-stream",
                       2: "application/octet-stream",
                       3: "application/octet-stream",
                       4: "image/png", 5: "image/jpeg"}

    def test_named_column_nulls_and_passthrough(self, spark):
        """`payload_col` picks the column, the other columns and rows
        pass through, and a null payload is octet-stream with null
        length and hash."""
        from docling_eval_spark.operators.multimodal import with_payload_metadata

        df = spark.createDataFrame([
            (1, "a", bytearray(b"\x89PNG1")),
            (2, "b", None),
        ], "doc_id bigint, tag string, blob binary")
        meta = with_payload_metadata(df, payload_col="blob")
        assert meta.columns == ["doc_id", "tag", "blob", "payload_meta"]
        out = {r.doc_id: r for r in meta.select(
            "doc_id", "tag", "payload_meta.*").collect()}
        assert (out[1].tag, out[1].mime, out[1].n_bytes) == ("a", "image/png", 5)
        assert (out[2].tag, out[2].mime, out[2].n_bytes, out[2].sha256) == (
            "b", "application/octet-stream", None, None)


def _documents(sf_dir):
    import pandas as pd

    return pd.read_parquet(f"{sf_dir}/documents.parquet")


class TestMediaQueries:
    """The registry's three media queries against the closed forms their
    oracles state, computed here in Python over the same fixture."""

    def test_payload_mime_counts(self, spark, sf_dir):
        import __spark_entry__ as entry

        got = [tuple(r) for r in entry.queries()["payload_mime_counts"](
            spark, sf_dir).collect()]
        ids = _documents(sf_dir)["doc_id"]
        mimes = ["image/jpeg" if d % 7 == 0 else
                 "application/octet-stream" if d % 7 == 1 else "image/png"
                 for d in ids]
        want = sorted((m, mimes.count(m)) for m in set(mimes))
        assert got == want

    def test_multimodal_meta(self, spark, sf_dir):
        import __spark_entry__ as entry

        got = [r.asDict() for r in entry.queries()["multimodal_meta"](
            spark, sf_dir).collect()]
        docs = _documents(sf_dir)
        want = []
        for lang, g in sorted(docs.groupby("lang"), key=lambda kv: kv[0]):
            want.append({
                "lang": lang, "n_docs": len(g),
                "total_bytes": sum(len(t.encode()) + 4 for t in g["text"]),
                "n_unique": g["text"].nunique(), "mime": "image/png"})
        assert got == want

    def test_png_decode_features(self, spark, sf_dir):
        import __spark_entry__ as entry

        rows = entry.queries()["png_decode_features"](spark, sf_dir).collect()
        ids = sorted(d for d in _documents(sf_dir)["doc_id"] if d < 500)
        assert [r.doc_id for r in rows] == ids
        for r in rows:
            d = r.doc_id
            w, h = 16 + d % 16, 8 + d % 8
            assert (r.width, r.height) == (w, h)
            assert r.mean_r == round(
                sum((255 * x) // (w - 1) for x in range(w)) / w, 6)
            assert (r.mean_g, r.mean_b) == ((d + 85) % 256, (d + 170) % 256)
