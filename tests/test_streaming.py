"""Structured-Streaming ingest tests: exactly-once incremental extraction.

Checks the three contracts of streaming/ingest.py:
  1. a backlog of page files is drained by AvailableNow and every row is
     extracted byte-identically;
  2. restarting with the same checkpoint processes ONLY newly arrived
     files (no reprocessing, no duplicates);
  3. the watermarked event-time rollup agrees with the batch groupBy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _write_pages(spark, sf_dir, out, lo, hi):
    from docling_eval_spark.corpus.generator import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    pages.coalesce(1).write.mode("append").parquet(out)
    return pages.count()


class TestStreamingIngest:
    def test_available_now_then_resume(self, spark, sf_dir, tmp_path):
        from docling_eval_spark.streaming.ingest import start_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        n1 = _write_pages(spark, sf_dir, landing, 0, 40)
        q = start_ingest(spark, landing, out, ckpt)
        q.awaitTermination(120)
        got1 = spark.read.parquet(out)
        assert got1.count() == n1
        assert got1.where(~F.col("byte_identical")).count() == 0

        # arrival of new files; same checkpoint -> only the delta is processed
        n2 = _write_pages(spark, sf_dir, landing, 40, 70)
        q = start_ingest(spark, landing, out, ckpt)
        q.awaitTermination(120)
        got2 = spark.read.parquet(out)
        assert got2.count() == n1 + n2
        assert got2.select("doc_id").distinct().count() == n1 + n2

    def test_windowed_throughput_matches_batch(self, spark, sf_dir):
        from docling_eval_spark.corpus.generator import pages_from_documents
        from docling_eval_spark.streaming.ingest import windowed_throughput

        pages = pages_from_documents(spark, sf_dir).limit(100)
        rolled = windowed_throughput(pages, window="24 hours").collect()
        assert sum(r["n_docs"] for r in rolled) == 100
        assert all(r["total_bytes"] > 0 for r in rolled)


class TestStreamingDedupIngest:
    def test_micro_batches_dedup_against_committed(self, spark, tmp_path):
        from docling_eval_spark.streaming.ingest import start_dedup_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        cols = ["url", "warc_ts", "html", "text", "lang", "doc_id"]

        def page(doc_id, text):
            import datetime
            return (f"https://x/{doc_id}",
                    datetime.datetime(2026, 1, 1, 0, 0, doc_id % 60),
                    text.encode(), text, "en", doc_id)

        # wave 1: doc 2 duplicates doc 1 within the batch
        spark.createDataFrame(
            [page(1, "alpha"), page(2, "alpha"), page(3, "beta")],
            cols).coalesce(1).write.mode("append").parquet(landing)
        q = start_dedup_ingest(spark, landing, out, ckpt)
        q.awaitTermination(120)
        got = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert got == {1, 3}  # min-key kept within the batch

        # wave 2: doc 10 re-crawls "alpha" (already committed),
        # doc 11 is genuinely new
        spark.createDataFrame(
            [page(10, "alpha"), page(11, "gamma")],
            cols).coalesce(1).write.mode("append").parquet(landing)
        q = start_dedup_ingest(spark, landing, out, ckpt)
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        assert {r.doc_id for r in rows} == {1, 3, 11}
        assert sorted(r.text for r in rows) == ["alpha", "beta", "gamma"]

        # restart with the same checkpoint: nothing new -> no appends
        q = start_dedup_ingest(spark, landing, out, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 3


class TestStreamingCurationIngest:
    def test_quality_gates_then_dedup_per_batch(self, spark, tmp_path):
        from docling_eval_spark.streaming.ingest import start_curation_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stats = str(tmp_path / "stats")
        cols = ["url", "warc_ts", "html", "text", "lang", "doc_id"]

        good = ("the quick brown fox jumps over the fence today.\n"
                "a lazy dog sleeps near the old barn for a while.\n"
                "it is a warm day for the whole busy town here.")
        pii = good.replace("fence", "fence so contact bob@mail.example")
        # distinct base text (else the cleaned doc exact-dedups away)
        badline = good.replace("fox", "owl") + "\nclick here now"

        def page(doc_id, text):
            import datetime
            return (f"https://x/{doc_id}",
                    datetime.datetime(2026, 1, 1, 0, 0, doc_id % 60),
                    text.encode(), text, "en", doc_id)

        # wave 1: doc 1 clean, doc 2 tiny (fails Gopher), doc 3 has a
        # C4-failing line, doc 4 carries PII
        spark.createDataFrame(
            [page(1, good), page(2, "tiny."), page(3, badline),
             page(4, pii)],
            cols).coalesce(1).write.mode("append").parquet(landing)
        q = start_curation_ingest(spark, landing, out, ckpt,
                                  stats_path=stats, min_words=20)
        q.awaitTermination(120)
        rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
        assert 2 not in rows                       # Gopher dropped it
        assert "click here" not in rows[3].text    # C4 line removed
        assert "<EMAIL>" in rows[4].text and "bob@" not in rows[4].text
        n_first = len(rows)

        # wave 2: doc 10 recrawls doc 1's exact text -> dropped against
        # the committed history; doc 11 is new
        fresh = good.replace("fox", "cat")
        spark.createDataFrame(
            [page(10, good), page(11, fresh)],
            cols).coalesce(1).write.mode("append").parquet(landing)
        q = start_curation_ingest(spark, landing, out, ckpt,
                                  stats_path=stats, min_words=20)
        q.awaitTermination(120)
        got = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert got == set(rows) | {11}

        # restart with the same checkpoint: no new files -> no appends,
        # and the stats sidecar holds one row per distinct batch
        q = start_curation_ingest(spark, landing, out, ckpt,
                                  stats_path=stats, min_words=20)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == n_first + 1
        srows = spark.read.parquet(stats).collect()
        assert len({r.batch_id for r in srows}) == len(srows)
        acc = {r.batch_id: r for r in srows}
        first = acc[min(acc)]
        assert (first.n_input, first.n_quality) == (4, 3)

    def test_first_batch_commits_the_quality_chain(self, spark, tmp_path):
        """With no history, one batch commits exactly what the batch
        chain keeps: quality_chain, then exact dedup of its survivors."""
        import datetime

        from docling_eval_spark.operators.dedup import exact_dedup
        from docling_eval_spark.operators.webtext import quality_chain
        from docling_eval_spark.streaming.ingest import start_curation_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        good = ("the quick brown fox jumps over the fence today.\n"
                "a lazy dog sleeps near the old barn for a while.\n"
                "it is a warm day for the whole busy town here.")
        texts = [good, "tiny.", good + "\nclick here now",  # C4 -> doc 1
                 good.replace("fox", "owl"),
                 good.replace("fence", "fence so call +1 212 555 0100"),
                 "lorem ipsum " + good]
        spark.createDataFrame(
            [(f"https://x/{i}", datetime.datetime(2026, 1, 1), t.encode(),
              t, "en", i) for i, t in enumerate(texts, 1)],
            ["url", "warc_ts", "html", "text", "lang", "doc_id"]
        ).coalesce(1).write.parquet(landing)
        q = start_curation_ingest(spark, landing, out,
                                  str(tmp_path / "ckpt"), min_words=20)
        q.awaitTermination(120)
        want = exact_dedup(quality_chain(spark.read.parquet(landing),
                                         min_words=20))
        got = spark.read.parquet(out).select("doc_id", "text").collect()
        assert sorted(r.doc_id for r in got) == [1, 4, 5]
        assert sorted(got) == sorted(want.select("doc_id", "text").collect())


class TestStreamingNearDedupIngest:
    def test_near_recrawls_drop_against_committed(self, spark, tmp_path):
        from docling_eval_spark.streaming.ingest import start_dedup_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        cols = ["url", "warc_ts", "html", "text", "lang", "doc_id"]
        base = "the quick brown fox jumps over the lazy dog end"

        def page(doc_id, text):
            import datetime
            return (f"https://x/{doc_id}",
                    datetime.datetime(2026, 1, 2), text.encode(),
                    text, "en", doc_id)

        spark.createDataFrame(
            [page(1, base), page(2, "totally different page text here")],
            cols).coalesce(1).write.mode("append").parquet(landing)
        q = start_dedup_ingest(spark, landing, out, ckpt, near=True)
        q.awaitTermination(180)
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}

        # wave 2: near recrawl of doc 1 (Jaccard 8/9) and a new doc
        spark.createDataFrame(
            [page(10, base + " xdup"), page(11, "something wholly new")],
            cols).coalesce(1).write.mode("append").parquet(landing)
        q = start_dedup_ingest(spark, landing, out, ckpt, near=True)
        q.awaitTermination(180)
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == \
            {1, 2, 11}

    def test_near_mode_signature_store_identical_across_restart(
            self, spark, tmp_path):
        """signatures_path maintains the committed corpus's minhash
        signatures incrementally: three waves (with a checkpoint
        restart between them) must commit exactly the rows the
        storeless near mode commits, and the store must end holding
        one signature row per committed document — the steady-state
        path where no trigger ever re-signs the full history. Each
        trigger signs each batch row the exact stage keeps once."""
        from status_store import next_execution, stage_rows

        from docling_eval_spark.streaming.ingest import start_dedup_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        sigs = str(tmp_path / "sigs")
        cols = ["url", "warc_ts", "html", "text", "lang", "doc_id"]
        base = "the quick brown fox jumps over the lazy dog end"
        other = "another page with its own completely separate words inside"

        def page(doc_id, text):
            import datetime
            return (f"https://x/{doc_id}",
                    datetime.datetime(2026, 1, 2), text.encode(),
                    text, "en", doc_id)

        def run():
            q = start_dedup_ingest(spark, landing, out, ckpt, near=True,
                                   signatures_path=sigs)
            q.awaitTermination(180)

        # wave 1: two fresh docs
        spark.createDataFrame([page(1, base), page(2, other)], cols) \
            .coalesce(1).write.mode("append").parquet(landing)
        since = next_execution(spark)
        run()
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}

        # wave 2 (fresh query = the restart): near recrawl of 1, exact
        # recrawl of 2, one new doc
        spark.createDataFrame(
            [page(10, base + " xdup"), page(11, other),
             page(12, "something wholly new arrives with many more words here")], cols) \
            .coalesce(1).write.mode("append").parquet(landing)
        run()
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == \
            {1, 2, 12}

        # wave 3: near recrawl of the WAVE-2 survivor — provable only
        # via the store rows appended by wave 2
        spark.createDataFrame(
            [page(20, "something wholly new arrives with many more words here today")], cols) \
            .coalesce(1).write.mode("append").parquet(landing)
        run()
        committed = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert committed == {1, 2, 12}      # J=7/8 > 0.8 -> dropped
        store = spark.read.parquet(sigs).collect()
        assert {r.doc_id for r in store} == committed
        assert len(store) == len(committed)  # exactly one row per doc
        assert all(len(r.sig) == 128 for r in store)
        # signed: 1 and 2; 10 and 12 (11 is an exact recrawl); 20
        assert stage_rows(spark, since, "_minhash") == 5

    def test_near_mode_replay_after_signature_append_commits_batch(
            self, spark, tmp_path):
        """The crash between the two writes: the store already holds the
        batch survivors' signatures, the output holds none of its rows
        and the checkpoint has not committed the batch. The replay must
        commit exactly the rows a store-free run commits."""
        import datetime

        from docling_eval_spark.operators.dedup import minhash_signatures
        from docling_eval_spark.streaming.ingest import start_dedup_ingest

        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        sigs = str(tmp_path / "sigs")
        cols = ["url", "warc_ts", "html", "text", "lang", "doc_id"]
        base = "the quick brown fox jumps over the lazy dog end"
        other = "another page with its own completely separate words inside"
        rows = [(1, base), (2, other), (3, base + " xdup")]  # 3 ~ 1
        spark.createDataFrame(
            [(f"https://x/{d}", datetime.datetime(2026, 1, 2), t.encode(),
              t, "en", d) for d, t in rows], cols) \
            .coalesce(1).write.mode("append").parquet(landing)

        # what the crashed attempt left behind: survivors 1 and 2 signed
        minhash_signatures(
            spark.createDataFrame(rows[:2], ["doc_id", "text"]),
            "text", "doc_id").write.parquet(sigs)
        q = start_dedup_ingest(spark, landing, out, str(tmp_path / "ckpt"),
                               near=True, signatures_path=sigs)
        q.awaitTermination(180)
        assert {r.doc_id for r in spark.read.parquet(out).collect()} == \
            {1, 2}
        # the replay re-appends the same signatures: duplicates, no new keys
        assert {r.doc_id for r in spark.read.parquet(sigs).collect()} == \
            {1, 2}
