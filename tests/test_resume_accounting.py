"""run_resumable accounting: this-run counts must come from the persisted
output frame, never from re-scanning the cumulative committed table
(at 10^12 committed rows that is a full-table scan per increment)."""

from pyspark.sql import functions as F


def _inputs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") * 2).alias("v"))


def test_two_run_resume_counts(spark, tmp_path):
    from docling_eval_spark.operators.resume import run_resumable

    out = str(tmp_path / "out")
    transform = lambda df: df.withColumn("score", F.col("v") + 1)  # noqa: E731

    n1 = run_resumable(_inputs(spark, 0, 100), transform, spark, out)
    assert n1 == 100
    # second run overlaps 0..100 — only the new 50 rows are written
    n2 = run_resumable(_inputs(spark, 0, 150), transform, spark, out)
    assert n2 == 50
    total = spark.read.parquet(out)
    assert total.count() == 150
    assert total.select("url").distinct().count() == 150
    # idempotent re-run writes nothing
    assert run_resumable(_inputs(spark, 0, 150), transform, spark, out) == 0


def test_resume_count_does_not_rescan_committed_output(spark, tmp_path):
    """Plan-level check: during the second run, no job may scan the
    committed output for anything but the keys-only anti-join column.
    We detect re-scans by counting parquet-read jobs over the output path
    via the scan metrics Spark exposes in executedPlan strings — simpler
    and robust: assert the returned count equals the written rows while
    the committed table is made UNREADABLE for a full scan (extra column
    pruned path) — i.e., the count must not depend on re-reading files
    written by previous runs."""
    import glob
    import os

    from docling_eval_spark.operators.resume import run_resumable

    out = str(tmp_path / "out")
    transform = lambda df: df  # noqa: E731
    run_resumable(_inputs(spark, 0, 40), transform, spark, out)
    files_after_run1 = set(glob.glob(os.path.join(out, "*.parquet")))

    # make every run-1 data file unreadable EXCEPT via column-pruned key
    # reads: truncating would corrupt the key column too, so instead we
    # track mtimes — a cumulative re-count would need to open them; the
    # contract we pin here is the return value's independence: it must
    # equal exactly this run's row count even when run-1 files dominate.
    n2 = run_resumable(_inputs(spark, 30, 45), transform, spark, out)
    assert n2 == 5  # 40..44 only; 30..39 already committed
    files_after_run2 = set(glob.glob(os.path.join(out, "*.parquet")))
    assert files_after_run1 < files_after_run2


def test_unreadable_output_is_not_a_fresh_run(spark, tmp_path):
    """Only a missing output or one without data files means fresh: a read
    error on the committed output must surface, not re-process every row."""
    import pytest

    from docling_eval_spark.operators.resume import resume_filter

    inputs = _inputs(spark, 0, 10)
    assert resume_filter(inputs, spark, str(tmp_path / "none")) is inputs
    (tmp_path / "empty").mkdir()
    assert resume_filter(inputs, spark, str(tmp_path / "empty")) is inputs
    # a first run killed before commit leaves only _temporary/ and _SUCCESS
    killed = tmp_path / "killed"
    _inputs(spark, 0, 5).write.parquet(str(killed / "_temporary" / "0"))
    (killed / "_SUCCESS").touch()
    assert resume_filter(inputs, spark, str(killed)) is inputs
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)footer"):
        resume_filter(inputs, spark, str(out))


def test_resume_on_uri_output_filters_committed_keys(spark, tmp_path):
    from docling_eval_spark.operators.resume import resume_filter

    out = tmp_path / "out"
    _inputs(spark, 0, 6).write.parquet(str(out))
    todo = resume_filter(_inputs(spark, 0, 10), spark, out.as_uri())
    assert sorted(r.url for r in todo.collect()) == ["u6", "u7", "u8", "u9"]
