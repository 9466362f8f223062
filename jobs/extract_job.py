"""The production extraction job — `spark-submit --py-files` entry point.

    spark-submit --py-files dist/docling_eval_spark.zip jobs/extract_job.py \
        --input  <pages table path>      (input_hint schema)  \
        --output <scored output path>                          \
        --lineage <lineage sidecar path>                       \
        --checkpoint-resume --run-id <id> [--partitions N]

Pipeline (north rule): scan -> resume anti-join on committed urls ->
size-balanced salted repartition -> fused extract+score mapInPandas ->
append scored rows + per-partition lineage sidecar. The stage returns
only the scored row; per-block provenance (spans, tables) is
`extraction.extract.extract_pages`'. Idempotent restart: a killed job
re-submitted with --checkpoint-resume skips everything the committed
output already contains. On an Iceberg deployment the parquet
read/append below become `spark.table(...)` / `writeTo(...).append()`
and the snapshot IS the checkpoint — the plan shape is identical
(operators/resume.py docstring).

Synthetic mode (--synth-from DIR) generates the pages table from the
documents parquet for hermetic runs/benchmarks.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None, stop_session: bool = True) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    ap.add_argument("--input-warc",
                    help="directory of .warc/.warc.gz archives — the raw "
                         "crawl ingestion edge (extraction-only: no GT "
                         "text exists, so the GT-relative metric columns "
                         "are dropped from the output)")
    ap.add_argument("--cdx-index",
                    help="with --input-warc: a CDXJ index (text lines) "
                         "— select captures index-first (status/mime/"
                         "latest/digest on the index) and decode ONLY "
                         "the selected byte ranges instead of parsing "
                         "every record of every archive")
    ap.add_argument("--synth-from", help="documents parquet dir (hermetic synthetic mode)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--checkpoint-resume", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from docling_eval_spark.operators.lineage import append_lineage
    from docling_eval_spark.operators.resume import resume_filter
    from docling_eval_spark.plans.pipeline import extract_and_score, flagship

    spark = SparkSession.builder.appName("extract-job").getOrCreate()
    sc = spark.sparkContext
    n_parts = args.partitions or sc.defaultParallelism * 2
    run_id = args.run_id or f"run-{int(time.time())}"

    if args.synth_from:
        exclude = None
        if args.checkpoint_resume:
            from docling_eval_spark.operators.resume import committed_keys

            exclude = committed_keys(spark, args.output, key="doc_id")
        scored = flagship(spark, args.synth_from, n_partitions=n_parts,
                          exclude=exclude)
    elif args.input:
        pages = spark.read.parquet(args.input)
        if args.checkpoint_resume:
            pages = resume_filter(pages, spark, args.output, key="url")
        scored = extract_and_score(pages, n_partitions=n_parts)
    elif args.input_warc:
        from pyspark.sql import functions as F

        from docling_eval_spark.sources.binary_files import read_binary_files
        from docling_eval_spark.sources.warc import warc_records

        from docling_eval_spark.operators.webtext import latest_snapshot

        if args.cdx_index:
            # index-first: filter the ~0.1%-sized index, then decode
            # only the selected gzip members. CDXJ filenames are
            # archive-relative while binaryFile paths are absolute —
            # join on basename.
            from docling_eval_spark.sources.cdx import (
                cdx_fetch_manifest, fetch_manifest_records, parse_cdxj)

            base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
            caps = parse_cdxj(
                spark.read.text(args.cdx_index)
                .withColumnRenamed("value", "line"))
            man = cdx_fetch_manifest(caps).withColumn(
                "warc_filename", base(F.col("warc_filename")))
            archives = (read_binary_files(spark, args.input_warc)
                        .select(base(F.col("path")).alias("path"),
                                "content"))
            recs = fetch_manifest_records(man, archives,
                                          payload_col="content",
                                          path_col="path")
        else:
            recs = warc_records(read_binary_files(spark, args.input_warc))
        # recrawled URLs are routine in raw WARC input: collapse to the
        # newest snapshot per url FIRST so doc_id is a genuine unique
        # key, then derive it as the 128-bit md5 of the url (hex string
        # — at 10^12 docs a 64-bit hash mathematically guarantees
        # cross-document collisions, breaking downstream dedup/joins
        # that assume doc_id is unique)
        one = latest_snapshot(recs.select("url", "warc_ts", "html"),
                              key="url")
        pages = one.select(
            F.md5(F.col("url").cast("binary")).alias("doc_id"),
            "url", "warc_ts", "html",
            F.lit("").alias("text"), F.lit("").alias("lang"))
        if args.checkpoint_resume:
            pages = resume_filter(pages, spark, args.output, key="url")
        # a raw crawl has no ground-truth text: keep the extraction
        # product and compute no GT-relative metric columns rather than
        # scoring against an empty reference
        scored = extract_and_score(pages, n_partitions=n_parts,
                                   full_metrics=False)
        scored = scored.select(
            "doc_id", "url", "lang", "extracted_text",
            "n_blocks", "n_content", "n_boiler",
        ).withColumn("byte_identical", F.lit(False))
    else:
        ap.error("one of --input / --input-warc / --synth-from is required")
        return

    scored = scored.persist()
    scored.write.mode("append").parquet(args.output)
    # lineage rows describe THIS run's task partitions, not the cumulative
    # table — the persist shares one computation between write and rollup
    append_lineage(scored, run_id, args.lineage)
    scored.unpersist()

    committed = spark.read.parquet(args.output)
    n = committed.count()
    ok = committed.where("byte_identical").count()
    print(f"extract-job run_id={run_id} committed={n} byte_identical={ok} "
          f"rate={ok / max(n, 1):.6f}")
    if stop_session:  # in-process callers (tests) keep their session
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
