"""jobs/extract_job.py in one pass: one write, no persist, no read of the
output after the write. The summary line and the lineage sidecar must
still say what a separate count and a groupBy over the written frame
would say."""

from __future__ import annotations

import contextlib
import io
import re
import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from docling_eval_spark.operators.lineage import lineage_rows, partition_counter
from jobs.extract_job import _parser, main, scored_frame

N_PAGES = 64
PAGES_SCHEMA = ("doc_id bigint, url string, warc_ts timestamp, html binary, "
                "text string, lang string")


@pytest.fixture(scope="module")
def stored(spark, sf_dir, tmp_path_factory):
    """A stored-pages table, 1/8 of its references perturbed so those
    rows are not byte-identical."""
    from docling_eval_spark.corpus.generator import pages_from_documents

    path = str(tmp_path_factory.mktemp("stored") / "pages")
    pages = pages_from_documents(spark, sf_dir).orderBy("doc_id").limit(N_PAGES)
    pages.withColumn("text", F.when(F.col("doc_id") % 8 == 0,
                                    F.concat("text", F.lit(" perturbed")))
                     .otherwise(F.col("text"))).write.parquet(path)
    return path


def _run(argv) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(argv, stop_session=False)
    return buf.getvalue()


def _summary(stdout: str) -> tuple[int, int]:
    m = re.search(r"extract-job run_id=\S+ committed=(\d+) "
                  r"byte_identical=(\d+) rate=", stdout)
    assert m, stdout
    return int(m.group(1)), int(m.group(2))


def _job_args(tmp_path, source: list[str], run_id="r1", resume=True):
    return [*source, "--output", str(tmp_path / "out"),
            "--lineage", str(tmp_path / "lineage"), "--run-id", run_id,
            "--partitions", "4", *(["--checkpoint-resume"] if resume else [])]


def _counted_run(spark, argv) -> tuple[str, int]:
    """The job's stdout and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"extract-job-{argv[argv.index('--run-id') + 1]}"
    sc.setJobGroup(group, "job count")
    try:
        out = _run(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_run_is_one_pass(spark, stored, tmp_path):
    out, n_jobs = _counted_run(spark, _job_args(tmp_path, ["--input", stored]))
    # the scan's shuffle map stage, the write, the lineage append
    assert n_jobs <= 5, n_jobs
    written = spark.read.parquet(str(tmp_path / "out"))
    assert _summary(out) == (written.count(),
                             written.where("byte_identical").count())
    assert _summary(out) == (N_PAGES, N_PAGES - N_PAGES // 8)


def _warc_archive(tmp_path) -> str:
    from datetime import datetime, timezone

    from docling_eval_spark.sources.warc import build_warc

    arch = tmp_path / "crawl"
    arch.mkdir()
    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    pages = [(f"https://c.example/{i}", t,
              (f"<html><body><div><p>page {i} " + "content words here " * 25
               + "</p></div></body></html>").encode()) for i in range(6)]
    # no main content: the extraction is "", equal to the empty reference,
    # yet the job's byte_identical is False for every WARC row
    pages.append(("https://c.example/empty", t, b"<html><body></body></html>"))
    (arch / "a.warc.gz").write_bytes(build_warc(pages))
    return str(arch)


@pytest.mark.parametrize("mode", ["stored", "synth", "warc"])
def test_lineage_rows_come_from_the_stage(spark, sf_dir, stored, tmp_path, mode):
    source = {"stored": lambda: ["--input", stored],
              "synth": lambda: ["--synth-from", sf_dir],
              "warc": lambda: ["--input-warc", _warc_archive(tmp_path)]}[mode]()
    argv = _job_args(tmp_path, source, run_id=mode)
    _run(argv)
    got = sorted(tuple(r) for r in
                 spark.read.parquet(str(tmp_path / "lineage")).collect())
    want = sorted(tuple(r) for r in lineage_rows(
        scored_frame(spark, _parser().parse_args(argv), 4), mode).collect())
    assert got == want
    assert sum(r[2] for r in got) == spark.read.parquet(str(tmp_path / "out")).count()
    if mode == "warc":
        assert all(r[3] == 0 for r in got)


def test_resumed_run_over_committed_output(spark, stored, tmp_path):
    first = _summary(_run(_job_args(tmp_path, ["--input", stored], "r1")))
    out, n_jobs = _counted_run(
        spark, _job_args(tmp_path, ["--input", stored], "r2"))
    assert n_jobs <= 8, n_jobs  # no count of the output after the write
    second = _summary(out)
    assert second == first == (N_PAGES, N_PAGES - N_PAGES // 8)
    lineage = spark.read.parquet(str(tmp_path / "lineage"))
    assert lineage.where("run_id = 'r2'").count() == 0
    assert lineage.agg(F.sum("n_rows")).first()[0] == N_PAGES
    # without resume the same input is appended again; the prior rows
    # are counted once, before the write
    third = _summary(_run(_job_args(tmp_path, ["--input", stored], "r3",
                                    resume=False)))
    assert third == (2 * first[0], 2 * first[1])


def test_empty_input_finishes(spark, stored, tmp_path):
    """An empty input must not leave the job waiting on an Observation
    that no action fills: neither fresh nor resumed against an existing
    output."""
    empty = str(tmp_path / "empty")
    spark.createDataFrame([], PAGES_SCHEMA).write.parquet(empty)
    results = []

    def run(argv):
        t = threading.Thread(target=lambda: results.append(_run(argv)),
                             daemon=True)
        t.start()
        t.join(timeout=180)
        assert not t.is_alive(), "the job did not finish"
        return _summary(results.pop())

    assert run(_job_args(tmp_path, ["--input", empty], "e1")) == (0, 0)
    assert not (tmp_path / "lineage").exists()
    done = _summary(_run(_job_args(tmp_path, ["--input", stored], "s1")))
    assert run(_job_args(tmp_path, ["--input", empty], "e2")) == done


def test_partition_counts_merge_by_overwrite(spark):
    """A partition counted twice (here: the same stage run by two
    actions) keeps one entry, not the sum."""
    from pyspark import TaskContext

    counts = partition_counter(spark)

    def count(it):
        n = 0
        for pdf in it:
            n += len(pdf)
            yield pdf
        counts.add({TaskContext.get().partitionId(): (n, n, 0)})

    df = spark.range(0, 30, numPartitions=3).mapInPandas(count, "id long")
    df.collect()
    once = dict(counts.value)
    df.collect()
    assert counts.value == once == {p: (10, 10, 0) for p in range(3)}


def test_observation_on_a_subtree_consumed_twice_counts_once(spark):
    obs = Observation()
    d = spark.range(100).observe(obs, F.count(F.lit(1)).alias("rows"))
    assert d.union(d).count() == 200
    assert obs.get == {"rows": 100}


def test_fresh_output_is_found_without_a_read(spark, tmp_path, monkeypatch):
    """A missing, an empty and a killed first run's output are fresh with
    no parquet read: once an Observation has run in the session, a read
    that fails is logged as an ERROR stack by Spark's listener bus."""
    from pyspark.sql.readwriter import DataFrameReader

    from docling_eval_spark.operators.resume import CommittedOutput

    (tmp_path / "empty").mkdir()
    killed = tmp_path / "killed"
    spark.range(5).write.parquet(str(killed / "_temporary" / "0"))
    (killed / "_SUCCESS").touch()
    reads, parquet = [], DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, *paths:
                        reads.append(paths) or parquet(self, *paths))
    for out in (tmp_path / "none", tmp_path / "empty", killed):
        for path in (str(out), out.as_uri()):
            assert CommittedOutput(spark, path).keys("id") is None, path
    assert reads == []
    spark.range(3).write.parquet(str(tmp_path / "done" / "_k=1"))
    assert CommittedOutput(spark, str(tmp_path / "done")).keys("id").count() == 3
    assert len(reads) == 1
