"""Small driver-side frames are planned in the JVM (`session.literal_frame`),
not through `createDataFrame(list)`, whose rows go through a PythonRDD
(one Python task per slice) and show as `Scan ExistingRDD`."""

import pytest
from pyspark.sql import functions as F


def _assert_jvm_only(df):
    qe = df._jdf.queryExecution()
    # the executed plan includes broadcast sides, which the RDD lineage
    # of the result does not
    assert "ExistingRDD" not in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_literal_frame_values(spark):
    from docling_eval_spark.session import literal_frame

    rows = [(1, "é\U0001F600\"x", 0.1 + 0.2, (7, -0.0)), (None, None, None, None)]
    df = literal_frame(spark, rows, "k bigint, s string, x double, "
                                    "b struct<i:int,d:double>")
    _assert_jvm_only(df)
    assert [tuple(r) for r in df.collect()] == rows
    assert df.dtypes[3] == ("b", "struct<i:int,d:double>")
    empty = literal_frame(spark, [], "k int")
    assert empty.dtypes == [("k", "int")] and empty.count() == 0


def test_literal_frame_rejects_a_value_of_the_wrong_type(spark):
    from docling_eval_spark.session import literal_frame

    with pytest.raises(Exception, match="(?i)malformed|parse"):
        literal_frame(spark, [("not a number",)], "k int").collect()


def test_operator_frames_have_no_python_rdd(spark, tmp_path):
    import json
    import math

    from docling_eval_spark.operators.slicing import range_slice
    from docling_eval_spark.operators.webtext import stratified_hash_sample
    from docling_eval_spark.plans.consolidation import load_evaluation_dir
    from docling_eval_spark.plans.table_eval import delta_histogram
    from docling_eval_spark.sources.gt_builder import read_reference_json

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"))
    sliced = range_slice(docs, 10, 20, n_buckets=16)
    _assert_jvm_only(sliced)
    assert [r.doc_id for r in sliced.orderBy("doc_id").collect()] == list(range(10, 20))

    sample = stratified_hash_sample(docs, {"en": 1.0, "de": 0.0})
    _assert_jvm_only(sample)
    assert {r.lang for r in sample.collect()} == {"en"}

    scores = spark.range(0, 4).select(
        F.col("id").alias("doc_id"), F.lit(3).alias("gt_nrows"),
        F.lit(2).alias("gt_ncols"), (F.lit(3) + F.col("id") % 2).alias("pred_nrows"),
        F.lit(2).alias("pred_ncols"))
    hist = delta_histogram(scores)
    _assert_jvm_only(hist)
    by = {r.delta: r for r in hist.collect()}
    assert by[-1].n_rows == 2 and by[0].n_rows == 2 and by[0].frac_cols == 1.0

    gt = {"b.pdf": {"elements": [{"category": "Table", "page": 1}]},
          "a.pdf": {"elements": []}}
    (tmp_path / "reference.json").write_text(json.dumps(gt))
    ref = read_reference_json(spark, str(tmp_path / "reference.json"))
    _assert_jvm_only(ref)
    assert sorted(tuple(r) for r in ref.collect()) == [
        (k, json.dumps(gt[k])) for k in sorted(gt)]

    # NaN and inf values, and a metric without a std (null), round-trip
    (tmp_path / "evals" / "exp").mkdir(parents=True)
    (tmp_path / "evals" / "exp" / "evaluation_dp_layout.json").write_text(
        json.dumps({"benchmark": "dp", "modality": "layout", "evaluation": {
            "map": float("inf"), "map_std": float("nan"), "iou": 0.5,
            "n": 3, "ok": True, "name": "x"}}))
    evals = load_evaluation_dir(spark, str(tmp_path / "evals"))
    _assert_jvm_only(evals)
    got = {r.metric: r for r in evals.collect()}
    assert set(got) == {"iou", "map", "n"}
    assert (got["iou"].value, got["iou"].std) == (0.5, None)
    assert got["map"].value == math.inf and math.isnan(got["map"].std)
    assert tuple(got["n"])[:5] == ("dp", "spark", "exp", "layout", "n")
