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

One pass: the scored rows are written once, with no persist and no read
of the output after the write. Everything the run reports is counted in
that pass or in the resume read it already makes:
  - this run's rows and byte-identical rows: an Observation on the
    written frame;
  - the rows committed before it: an Observation on the resume
    anti-join's read of the output (0 with no job for a fresh output;
    one aggregation over it, before the write, for an existing output
    run without --checkpoint-resume);
  - the lineage rows: per-task counts from the fused stage itself
    (operators/lineage.py), appended by the driver.
The summary line's committed= and byte_identical= are cumulative over
the output table.

Synthetic mode (--synth-from DIR) generates the pages table from the
documents parquet for hermetic runs/benchmarks.
"""

from __future__ import annotations

import argparse
import logging
import sys
import time

log = logging.getLogger("extract_job")


def _parser() -> argparse.ArgumentParser:
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
    return ap


def _warc_pages(spark, args):
    from pyspark.sql import functions as F

    from docling_eval_spark.operators.webtext import latest_snapshot
    from docling_eval_spark.sources.binary_files import read_binary_files
    from docling_eval_spark.sources.warc import warc_records

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
    one = latest_snapshot(recs.select("url", "warc_ts", "html"), key="url")
    return one.select(
        F.md5(F.col("url").cast("binary")).alias("doc_id"),
        "url", "warc_ts", "html",
        F.lit("").alias("text"), F.lit("").alias("lang"))


def scored_frame(spark, args, n_parts: int, resume_from=None, counts=None,
                 rows_in=None):
    """The frame the job writes, for parsed `args`.

    With `resume_from` (an operators/resume.py CommittedOutput), rows
    already committed there are skipped. `counts` is the fused stage's
    per-partition counter, `rows_in` an Observation of the pages before
    resume drops any."""
    from pyspark.sql import functions as F

    from docling_eval_spark.plans.pipeline import extract_and_score, flagship

    def resume(pages, key):
        if rows_in is not None:
            pages = pages.observe(rows_in, F.count(F.lit(1)).alias("rows"))
        return pages if resume_from is None else \
            resume_from.skip_committed(pages, key)

    if args.synth_from:
        return flagship(spark, args.synth_from, n_partitions=n_parts,
                        exclude=resume_from.keys("doc_id") if resume_from else None,
                        counts=counts, observe=rows_in)
    if args.input:
        pages = resume(spark.read.parquet(args.input), "url")
        return extract_and_score(pages, n_partitions=n_parts, counts=counts)
    pages = resume(_warc_pages(spark, args), "url")
    # a raw crawl has no ground-truth text: keep the extraction
    # product and compute no GT-relative metric columns rather than
    # scoring against an empty reference
    scored = extract_and_score(pages, n_partitions=n_parts,
                               full_metrics=False, counts=counts)
    return scored.select(
        "doc_id", "url", "lang", "extracted_text",
        "n_blocks", "n_content", "n_boiler",
    ).withColumn("byte_identical", F.lit(False))


def main(argv: list[str] | None = None, stop_session: bool = True) -> None:
    ap = _parser()
    args = ap.parse_args(argv)
    source = args.synth_from or args.input or args.input_warc
    if not source:
        ap.error("one of --input / --input-warc / --synth-from is required")

    from pyspark.sql import Observation, SparkSession

    from docling_eval_spark.operators.lineage import (
        append_partition_counts, partition_counter)
    from docling_eval_spark.operators.resume import CommittedOutput, observed

    t0 = time.monotonic()
    spark = SparkSession.builder.appName("extract-job").getOrCreate()
    n_parts = args.partitions or spark.sparkContext.defaultParallelism * 2
    run_id = args.run_id or f"run-{int(time.time())}"
    log.info("start run_id=%s input=%s partitions=%d",
             run_id, source, n_parts)

    output = CommittedOutput(spark, args.output, ok_col="byte_identical")
    counts = partition_counter(spark)
    rows_in = Observation()
    scored = scored_frame(
        spark, args, n_parts,
        output if args.checkpoint_resume else None, counts, rows_in)
    written = output.append(scored)
    per_part = counts.value
    if args.input_warc:
        # byte_identical is forced False above: every row is a reject
        per_part = {p: (n, 0, n) for p, (n, _, _) in per_part.items()}
    n_lineage = append_partition_counts(spark, per_part, run_id, args.lineage)

    n, ok = output.total("rows"), output.total("ok")
    print(f"extract-job run_id={run_id} committed={n} byte_identical={ok} "
          f"rate={ok / max(n, 1):.6f}")
    n_in = (observed(rows_in) or {"rows": written["rows"]})["rows"]
    log.info("done run_id=%s rows_in=%d skipped_by_resume=%d "
             "written=%d byte_identical=%d committed=%d "
             "lineage_partitions=%d wall_s=%.2f",
             run_id, n_in, n_in - written["rows"], written["rows"],
             written["ok"], n, n_lineage, time.monotonic() - t0)
    if stop_session:  # in-process callers (tests) keep their session
        spark.stop()


if __name__ == "__main__":
    logging.basicConfig(level=logging.INFO,
                        format="%(asctime)s %(levelname)s %(name)s: %(message)s")
    sys.exit(main())
