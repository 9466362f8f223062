"""A streaming ingest finds a fresh output, signature store or stats
sidecar by listing it (`operators/resume.py` `read_committed`), as the
batch resume does, not by a parquet read that fails: once an Observation
has run in the session, Spark logs a failed read as an ERROR stack."""

from __future__ import annotations

import datetime


def _land(spark, landing, texts):
    rows = [(f"https://x/{i}", datetime.datetime(2026, 1, 1, 0, 0, i),
             t.encode(), t, "en", i) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string, doc_id bigint").coalesce(1).write.parquet(landing)


def _failed_reads(monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    failed, parquet = [], DataFrameReader.parquet

    def recording(self, *paths, **options):
        try:
            return parquet(self, *paths, **options)
        except Exception as e:
            failed.append((paths, type(e).__name__))
            raise

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    return failed


def test_fresh_streaming_outputs_are_found_without_a_failed_read(
        spark, tmp_path, monkeypatch):
    from docling_eval_spark.streaming.ingest import (
        start_curation_ingest, start_dedup_ingest)

    good = ("the quick brown fox jumps over the fence today.\n"
            "a lazy dog sleeps near the old barn for a while.\n"
            "it is a warm day for the whole busy town here.")
    landing = str(tmp_path / "landing")
    _land(spark, landing, [good, good, "tiny."])
    failed = _failed_reads(monkeypatch)

    out, sigs = str(tmp_path / "dedup"), str(tmp_path / "sigs")
    start_dedup_ingest(spark, landing, out, str(tmp_path / "ckpt1"),
                       near=True, signatures_path=sigs).awaitTermination(120)
    assert spark.read.parquet(out).count() == 2  # the copy is dropped
    assert spark.read.parquet(sigs).count() == 2

    out, stats = str(tmp_path / "curated"), str(tmp_path / "stats")
    start_curation_ingest(spark, landing, out, str(tmp_path / "ckpt2"),
                          stats_path=stats, min_words=20).awaitTermination(120)
    assert spark.read.parquet(out).count() == 1  # "tiny." fails Gopher
    assert [tuple(r) for r in spark.read.parquet(stats).collect()] == [
        (0, 3, 2, 1)]
    assert failed == []
