"""Source tests: binaryFile directory scan + mime dispatch (SURVEY S4/P8),
pages-table IO with column pruning and bucketed writes (S1/S6)."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestBinaryFiles:
    def test_scan_and_mime(self, spark, tmp_path):
        from docling_eval_spark.sources.binary_files import read_binary_files

        (tmp_path / "a.pdf").write_bytes(b"%PDF-1.4 fake")
        (tmp_path / "b.png").write_bytes(b"\x89PNG fake")
        (tmp_path / "c.html").write_bytes(b"<html></html>")
        (tmp_path / "d.xyz").write_bytes(b"???")

        df = read_binary_files(spark, str(tmp_path))
        rows = {r["path"].split("/")[-1]: r for r in df.collect()}
        assert rows["a.pdf"]["mime"] == "application/pdf"
        assert rows["b.png"]["mime"] == "image/png"
        assert rows["c.html"]["mime"] == "text/html"
        assert rows["d.xyz"]["mime"] == "application/octet-stream"
        assert bytes(rows["a.pdf"]["content"]) == b"%PDF-1.4 fake"
        # deterministic path order (W4)
        assert [r["path"] for r in df.collect()] == sorted(
            r["path"] for r in df.collect())

    def test_extension_filter(self, spark, tmp_path):
        from docling_eval_spark.sources.binary_files import read_binary_files

        (tmp_path / "a.pdf").write_bytes(b"x")
        (tmp_path / "b.txt").write_bytes(b"y")
        df = read_binary_files(spark, str(tmp_path), extensions=("pdf",))
        assert df.count() == 1


class TestManifestSource:
    def test_listing_skip_semantics_and_read(self, spark, tmp_path):
        """Reference S3Source.download_objects parity: directory-marker
        keys (empty relative path) and zero-size objects are skipped;
        already-present paths are skipped; everything else is fetched
        executor-side."""
        from docling_eval_spark.sources.binary_files import (
            read_manifest_files)

        prefix = "datasets/train"
        data = {"a.pdf": b"%PDF-fake", "sub/b.png": b"\x89PNGbody",
                "c.txt": b"hello", "seen.txt": b"already here"}
        for rel, body in data.items():
            p = tmp_path / prefix / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(body)
        manifest = spark.createDataFrame(
            [(f"{prefix}/{rel}", len(body)) for rel, body in data.items()]
            + [(prefix, 0),                    # directory marker
               (f"{prefix}/empty.bin", 0)],    # zero-size object
            ["key", "size"])
        existing = spark.createDataFrame([("seen.txt",)], ["path"])

        out = read_manifest_files(manifest, key_prefix=prefix,
                                  base_dir=str(tmp_path),
                                  existing=existing).collect()
        got = {r.path: r for r in out}
        assert set(got) == {"a.pdf", "sub/b.png", "c.txt"}
        assert bytes(got["a.pdf"].content) == b"%PDF-fake"
        assert got["sub/b.png"].length == len(b"\x89PNGbody")
        assert got["a.pdf"].mime == "application/pdf"
        assert got["sub/b.png"].mime == "image/png"
        # deterministic iteration order (W4)
        assert [r.path for r in out] == sorted(got)

    def test_pluggable_fetch(self, spark):
        from docling_eval_spark.sources.binary_files import (
            read_manifest_files)

        manifest = spark.createDataFrame(
            [("p/x.bin", 3), ("p/y.bin", 4)], ["key", "size"])
        out = read_manifest_files(
            manifest, key_prefix="p",
            fetch=lambda k: k.encode("utf-8")).collect()
        assert {r.path: bytes(r.content) for r in out} == {
            "x.bin": b"p/x.bin", "y.bin": b"p/y.bin"}


class TestPagesTable:
    def test_roundtrip_and_pruning(self, spark, sf_dir, tmp_path):
        from docling_eval_spark.corpus.generator import pages_from_documents
        from docling_eval_spark.sources.tables import (
            read_pages_table,
            write_pages_table,
        )

        pages = pages_from_documents(spark, sf_dir).limit(50)
        out = str(tmp_path / "pages")
        write_pages_table(pages, out, n_buckets=4)
        back = read_pages_table(spark, out, columns=("url", "lang"))
        assert back.columns == ["url", "lang"]
        assert back.count() == 50
        # pruned scan must not carry html in its ReadSchema
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "html" not in plan


class TestDocumentsTable:
    def test_declared_schema_same_rows(self, spark, sf_dir):
        from docling_eval_spark.sources.tables import read_documents

        cols = ["doc_id", "text", "lang"]
        got = read_documents(spark, sf_dir, cols)
        inferred = spark.read.parquet(f"{sf_dir}/documents.parquet").select(*cols)
        assert got.schema == inferred.schema
        assert sorted(got.collect()) == sorted(inferred.collect())

    def test_salted_spread(self, spark, sf_dir):
        from docling_eval_spark.sources.tables import read_documents

        docs = read_documents(spark, sf_dir, ["doc_id"], n_partitions=6)
        assert docs.rdd.getNumPartitions() == 6
        assert docs.count() == read_documents(spark, sf_dir, ["doc_id"]).count()
