"""End-to-end Spark pipeline: corpus -> extract -> score -> rollup -> lineage,
plus checkpoint/resume semantics. Uses the driver's sf0.001 documents table
(TESTDATA.md) — text column is the oracle by construction."""

import os
import re

import pytest
from pyspark.sql import functions as F

from docling_eval_spark.corpus.generator import pages_from_documents
from docling_eval_spark.extraction.extract import extract_pages
from docling_eval_spark.operators.lineage import lineage_rows
from docling_eval_spark.operators.resume import resume_filter, run_resumable
from docling_eval_spark.operators.stats_rollup import histogram_df, stats_agg
from docling_eval_spark.plans.pipeline import (
    SCORE_FIELDS,
    extract_and_score,
    flagship,
    flagship_rollup,
)


@pytest.fixture(scope="module")
def scored(spark, sf_dir):
    df = flagship(spark, sf_dir, n_partitions=8)
    df.cache().count()
    yield df
    df.unpersist()


class TestPagesGeneration:
    def test_schema_matches_input_hint(self, spark, sf_dir):
        pages = pages_from_documents(spark, sf_dir)
        fields = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
        assert fields["url"] == "string"
        assert fields["warc_ts"] == "timestamp"
        assert fields["html"] == "binary"
        assert fields["text"] == "string"
        assert fields["lang"] == "string"

    def test_deterministic_across_runs(self, spark, sf_dir):
        a = pages_from_documents(spark, sf_dir).select("doc_id", F.sha2("html", 256).alias("h"))
        b = pages_from_documents(spark, sf_dir).select("doc_id", F.sha2("html", 256).alias("h"))
        assert a.exceptAll(b).count() == 0


class TestFlagship:
    def test_100pct_byte_identical(self, scored):
        row = scored.agg(
            F.count("*").alias("n"),
            F.sum(F.col("byte_identical").cast("long")).alias("ok"),
        ).first()
        assert row["n"] == 500
        assert row["ok"] == row["n"], "byte-identical gate must be 100%"

    def test_metric_identity_values(self, scored):
        row = scored.agg(
            F.min("bleu"), F.max("edit_distance"), F.min("f1_score"), F.min("char_accuracy")
        ).first()
        assert row[0] == 1.0 and row[1] == 0.0 and row[2] == 1.0 and row[3] == 1.0

    def test_rollup(self, scored):
        r = flagship_rollup(scored).first()
        assert r["n_docs"] == 500
        assert r["n_byte_identical"] == 500
        assert r["mean_edit_distance"] == 0.0

    def test_scored_rows_carry_no_provenance(self, scored):
        assert "spans" not in scored.columns
        assert "tables" not in scored.columns


class TestProvenance:
    """Per-block spans and table subtrees come from extract_pages."""

    @pytest.fixture(scope="class")
    def extracted(self, spark, sf_dir):
        df = extract_pages(pages_from_documents(spark, sf_dir, n_partitions=8))
        df.cache().count()
        yield df
        df.unpersist()

    def test_tables_extracted_for_table_pages(self, extracted):
        n_tab = extracted.where(F.size("tables") > 0).count()
        assert n_tab == extracted.where(F.col("doc_id") % 5 == 0).count()

    def test_spans_present(self, extracted):
        assert extracted.where(F.size("spans") > 3).count() == 500


class TestSingleOperator:
    """Stored and synthetic pages share one extract+score operator."""

    @staticmethod
    def _map_in_pandas_count(df):
        # the physical plan before execution; once run, adaptive execution
        # prints the final and the initial plan, each node twice
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("MapInPandas")

    @pytest.fixture(scope="class")
    def pages_path(self, spark, sf_dir, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("stored") / "pages")
        pages_from_documents(spark, sf_dir).write.parquet(path)
        return path

    def test_stored_pages_match_flagship(self, spark, sf_dir, scored, pages_path):
        stored = extract_and_score(spark.read.parquet(pages_path), n_partitions=8)
        assert self._map_in_pandas_count(stored) == 1
        # a plan equal to the cached fixture's would read the cache instead
        assert self._map_in_pandas_count(flagship(spark, sf_dir, n_partitions=4)) == 1
        assert stored.columns == scored.columns
        got = stored.orderBy("doc_id").collect()
        want = scored.orderBy("doc_id").collect()
        assert len(got) == 500 and got == want

    def test_operator_returns_only_the_scored_row(self, spark, pages_path):
        stored = extract_and_score(spark.read.parquet(pages_path), n_partitions=4)
        plan = stored._jdf.queryExecution().executedPlan().toString()
        # "MapInPandas run(<input attrs>)#n, [<output attrs>], false"
        (out,) = re.findall(r"MapInPandas .*?\)#\d+, \[(.*?)\]", plan)
        assert [a.split("#")[0] for a in out.split(", ")] == [
            "doc_id", "url", "lang", "text", "extracted_text",
            "n_blocks", "n_content", "n_boiler", *SCORE_FIELDS]
        assert "spans" not in stored.columns and "tables" not in stored.columns


class TestStatsRollup:
    def test_stats_agg_matches_numpy(self, spark, scored):
        import numpy as np

        vals = [r[0] for r in scored.select("char_accuracy").collect()]
        s = stats_agg(scored, "char_accuracy")
        assert s["total"] == len(vals)
        assert s["mean"] == pytest.approx(float(np.mean(vals)))
        assert s["median"] == pytest.approx(float(np.median(vals)))
        ref_hist, _ = np.histogram(vals, bins=20, range=(0, 1))
        assert s["hist"] == [float(h) for h in ref_hist]

    def test_histogram_df_bucket_semantics(self, spark):
        df = spark.createDataFrame([(0.0,), (0.049,), (0.05,), (1.0,), (1.5,), (-0.1,)], "v double")
        rows = {r["bucket"]: r["n"] for r in histogram_df(df, "v").collect()}
        assert rows[0] == 2      # 0.0 and 0.049
        assert rows[1] == 1      # 0.05
        assert rows[19] == 1     # 1.0 lands in last bin (right-closed)
        assert sum(rows.values()) == 4  # out-of-range excluded


class TestLineage:
    def test_partition_rows_cover_all(self, scored):
        rows = lineage_rows(scored, "run-test").collect()
        assert sum(r["n_rows"] for r in rows) == 500
        assert sum(r["n_ok"] for r in rows) == 500
        assert all(r["run_id"] == "run-test" for r in rows)


class TestResume:
    def test_anti_join_resume(self, spark, sf_dir, tmp_path):
        out = str(tmp_path / "scored_out")
        pages = pages_from_documents(spark, sf_dir)
        first_half = pages.where(F.col("doc_id") < 250)

        def transform(df):
            return extract_and_score(df, n_partitions=4, full_metrics=False) \
                .select("doc_id", "url", "byte_identical")

        n1 = run_resumable(first_half, transform, spark, out)
        assert n1 == 250
        # restart with the FULL input: only the missing 250 are processed,
        # and the return value is rows written THIS run
        todo = resume_filter(pages, spark, out)
        assert todo.count() == 250
        n2 = run_resumable(pages, transform, spark, out)
        assert n2 == 250
        # idempotent: a third run adds nothing
        n3 = run_resumable(pages, transform, spark, out)
        assert n3 == 0
        assert spark.read.parquet(out).select("url").distinct().count() == 500


class TestSkewBounding:
    """Evidence that the explicit size-balanced salting bounds per-task
    byte volume under heavy-tailed length(html) (SURVEY.md §7 hard part 3).
    """

    def test_heavy_rows_spread_across_partitions(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from docling_eval_spark.corpus.generator import pages_from_documents
        from docling_eval_spark.operators.skew import size_balanced_repartition

        pages = pages_from_documents(spark, sf_dir)
        # adversarial input: all pages funneled into ONE partition (the
        # crawl-host clustering pathology)
        clustered = pages.repartition(1)
        balanced = size_balanced_repartition(clustered, 8,
                                             heavy_threshold=1024)
        per_part = (
            balanced.select(F.spark_partition_id().alias("p"),
                            F.length("html").alias("b"))
            .groupBy("p").agg(F.sum("b").alias("bytes"))
            .collect()
        )
        sizes = [r["bytes"] for r in per_part]
        assert len(sizes) == 8
        # no partition may carry more than 3x the mean byte volume
        assert max(sizes) <= 3 * (sum(sizes) / len(sizes)), sizes
