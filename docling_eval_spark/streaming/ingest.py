"""Structured-Streaming ingest: incremental extraction over arriving pages.

The reference is batch-only (SURVEY.md §2.9) and the 10^12-doc extraction
job is a resumable BATCH pipeline (Iceberg snapshot + anti-join resume,
operators/resume.py). Streaming still earns its place at the edges:
a crawl drops WARC-derived parquet files continuously, and this module
turns the same fused extraction stage into an incremental job —

  - file-source `readStream` over the landing directory (input_hint
    schema), `maxFilesPerTrigger` bounding per-micro-batch bytes;
  - the IDENTICAL extraction `mapInPandas` (extraction/extract.py) runs
    unchanged on the streaming DataFrame — one code path for batch and
    streaming (Structured Streaming's core promise);
  - `writeStream` to parquet with a checkpoint directory: exactly-once
    file-sink semantics; a killed job restarts at the last committed
    micro-batch (the streaming twin of the batch anti-join resume);
  - `Trigger.AvailableNow` drains the backlog then stops — the cron-style
    incremental deployment mode;
  - a watermarked event-time window aggregate over `warc_ts` for
    late-data-tolerant throughput/lineage rollups
    (`applyInPandasWithState` is not needed: the rollup is a plain
    windowed count, which Spark handles with built-in state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.resume import read_committed
from ..session import literal_frame

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string, doc_id bigint")


def stream_pages(spark: SparkSession, input_path: str,
                 max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of pages (input_hint schema)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def streaming_extract(pages: DataFrame) -> DataFrame:
    """The batch extraction stage, unchanged, on a streaming DataFrame."""
    from ..extraction.extract import extract_pages

    return extract_pages(pages).withColumn(
        "byte_identical", F.col("extracted_text") == F.col("text")
    )


def start_ingest(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint_path: str,
                 available_now: bool = True) -> StreamingQuery:
    """Incremental extract job: landing dir -> scored parquet, exactly-once.

    Restart with the same checkpoint_path to resume: committed micro-batches
    are never reprocessed (file-source + file-sink checkpoint contract).
    """
    scored = streaming_extract(stream_pages(spark, input_path))
    writer = (
        scored.writeStream
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_dedup_ingest(spark: SparkSession, input_path: str,
                       output_path: str, checkpoint_path: str,
                       key: str = "doc_id", text_col: str = "text",
                       near: bool = False, threshold: float = 0.8,
                       signatures_path: str | None = None,
                       available_now: bool = True) -> StreamingQuery:
    """Steady-state web ingestion: every micro-batch exact-dedups
    against EVERYTHING already committed to the output (plus itself)
    before appending — the streaming form of operators/dedup.py's
    dedup_against, so a recrawl arriving hours later still collapses
    onto the copy already kept.

    foreachBatch is the right sink because the dedup needs a batch
    read of the output between triggers; its usual at-least-once
    caveat is neutralized HERE by the dedup itself: a replayed batch
    re-dedups against its own previously-committed rows and appends
    nothing, so the sink is idempotent without transactional writes.
    Only md5 hashes of the history move (see dedup_against); at scale
    the history read is a column-pruned scan of one 32-char column.

    With `near=True` the batch runs operators/dedup.py's
    near_dedup_pipeline against the committed corpus, which also drops
    near-duplicate recrawls at >= threshold. A replay of a batch whose
    output was already appended drops every row in the exact stage
    (each hash-matches its committed copy), so nothing is appended
    twice.

    `signatures_path` (near mode) is the steady-state scale switch: a
    parquet (key, sig) table of the committed corpus's minhash
    signatures, maintained INCREMENTALLY here — each trigger appends
    the kept rows' signatures, the ones the pipeline computed when it
    signed the batch, so no row is signed twice and the next trigger
    probes stored signatures instead of re-running the minhash stage
    over the full history text (an O(history) Python stage per trigger
    at a 10^12-doc corpus without it). Output is row-identical with or
    without the store. Write order is signatures BEFORE output. After a
    crash between the two writes the store holds the batch's signatures
    but the output does not hold its rows. The replay ignores store
    rows keyed by the batch itself (near_dedup_pipeline), so it commits
    exactly the rows the first attempt would have, and re-appends the
    same signature rows (duplicate (key, sig) rows are benign — the LSH
    probe collapses them with its distinct). The reverse order would
    leave committed documents invisible to the signature probe — silent
    false keeps.
    """
    from ..operators.dedup import (
        dedup_against, near_dedup_pipeline, release_checkpoint)

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        history = read_committed(sess, output_path)
        if not near:
            kept = dedup_against(
                batch_df, batch_df.limit(0) if history is None  # first batch
                else history, text_col=text_col, key=key)
            kept.write.mode("append").parquet(output_path)
            return
        hist_sigs = (read_committed(sess, signatures_path)
                     if signatures_path else None)
        kept, sigs = near_dedup_pipeline(
            batch_df, history, text_col=text_col, key=key,
            threshold=threshold, history_sigs=hist_sigs)
        if signatures_path:
            # survivors' signatures land BEFORE the output append (see
            # docstring for the crash-order argument)
            sigs.join(kept.select(key), key, "left_semi") \
                .write.mode("append").parquet(signatures_path)
        kept.write.mode("append").parquet(output_path)
        release_checkpoint(kept)
        release_checkpoint(sigs)

    writer = (
        stream_pages(spark, input_path)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_curation_ingest(spark: SparkSession, input_path: str,
                          output_path: str, checkpoint_path: str,
                          stats_path: str | None = None,
                          key: str = "doc_id", text_col: str = "text",
                          min_words: int = 20,
                          min_kept_lines: int = 1,
                          available_now: bool = True) -> StreamingQuery:
    """Streaming curation: the curate CLI's gate chain,
    webtext.quality_chain (Gopher quality gate -> C4 line filter with
    text_clean adopted -> PII redaction), runs per micro-batch BEFORE
    the exact dedup against everything already committed. A
    continuously-arriving crawl lands curated and deduplicated without
    a separate batch pass; both deployments call the same chain
    function (one code path — the module's standing promise).

    Idempotency under foreachBatch replay: the gates are deterministic
    per row, so a replayed batch re-derives identical survivors, and
    the exact-dedup stage drops them against their own committed
    copies — the sink appends nothing twice. `stats_path` appends one
    drop-accounting row per micro-batch (batch_id, n_input, n_quality,
    n_committed); replays skip their already-committed stats row by
    batch_id, keeping the sidecar idempotent too."""
    from ..operators.dedup import dedup_against
    from ..operators.webtext import quality_chain

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        n_input = batch_df.count()
        redacted = quality_chain(
            batch_df, text_col=text_col, min_words=min_words,
            min_kept_lines=min_kept_lines
        ).select(*batch_df.columns).persist()
        n_quality = redacted.count()
        history = read_committed(sess, output_path)
        history = (redacted.limit(0) if history is None  # first batch
                   else history).select(text_col)
        kept = dedup_against(redacted, history, text_col=text_col,
                             key=key).persist()
        n_committed = kept.count()  # materialize before the append
        # stats row FIRST, output append second: if the job dies between
        # the two, the replayed batch re-commits the identical survivors
        # (deterministic gates, unchanged history) and skips the stats
        # row by batch_id — both crash orders leave correct counts. The
        # reverse order (output first) would let a replay dedup
        # everything against its own committed copies and record
        # n_committed=0 for the batch.
        if stats_path:
            stats = read_committed(sess, stats_path)
            seen = stats is not None and stats.where(
                F.col("batch_id") == batch_id).count()
            if not seen:            # replayed batch: stats already there
                literal_frame(
                    sess, [(int(batch_id), n_input, n_quality, n_committed)],
                    "batch_id long, n_input long, n_quality long, "
                    "n_committed long").write.mode("append") \
                    .parquet(stats_path)
        kept.write.mode("append").parquet(output_path)
        redacted.unpersist()
        kept.unpersist()

    writer = (
        stream_pages(spark, input_path)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_throughput(pages: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Event-time ingest rollup: docs and bytes per `warc_ts` window,
    tolerant of `watermark` lateness. Works on batch AND streaming frames
    (watermark is a no-op in batch)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).alias("total_bytes"),
        )
        .select(F.col("w.start").alias("window_start"), "lang",
                "n_docs", "total_bytes")
    )
