"""Tests of the benchmark's own measuring code.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench.spans import Tracer
from perfbench.workloads import compare_rows


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", str(local))
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def _passthrough():
    # built inside a function so that it is pickled by value: the Python
    # workers need not import this test module
    def f(batches):
        yield from batches
    return f


def test_walker_reads_python_and_shuffle_metrics(spark):
    from pyspark.sql import functions as F

    from perfbench.plan_metrics import plan_nodes, run_plan, totals

    df = (spark.range(0, 2000).withColumn("s", F.repeat(F.lit("x"), 50))
          .repartition(4, "id"))
    nodes = plan_nodes(run_plan(df.mapInPandas(_passthrough(), schema=df.schema)))
    names = [n.name for n in nodes]
    assert "MapInPandas" in names and "Exchange" in names
    t = totals(nodes)
    assert t["pythonDataSent"] > 0
    assert t["pythonDataReceived"] > 0
    assert t["pythonTotalTime"] > 0
    assert t["shuffleBytesWritten"] > 0


def test_walker_follows_the_cache_a_persisted_frame_fills(spark):
    from perfbench.plan_metrics import plan_nodes, run_plan, totals

    df = spark.range(0, 500).repartition(2, "id")
    cached = df.mapInPandas(_passthrough(), schema=df.schema).persist()
    try:
        t = totals(plan_nodes(run_plan(cached), follow_cache=True))
        assert t["pythonDataSent"] > 0 and t["shuffleBytesWritten"] > 0
    finally:
        cached.unpersist()


def test_compare_rows_flags_a_corrupted_output():
    want = [(1, 0.5, "a"), (2, 1.0, "b")]
    assert compare_rows("q", list(want), want) == []
    assert compare_rows("q", [(1, 0.5000004, "a"), (2, 1.0, "b")], want) == []
    assert compare_rows("q", [(1, 0.51, "a"), (2, 1.0, "b")], want)
    assert compare_rows("q", [(1, 0.5, "a"), (2, 1.0, "c")], want)
    assert compare_rows("q", [(1, 0.5, "a")], want)
    assert compare_rows("q", want + [(2, 1.0, "b")], want)


def test_metric_names_match_benchmark_json():
    import json
    import os

    from perfbench.run import END_TO_END, PER_LAYER, ROOT
    from perfbench.workloads import WORKLOADS

    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("root") as root:
        with tr.span("child") as child:
            pass
    assert tr.self_time("root") == pytest.approx(
        root.duration - child.duration)
    assert tr.self_time("missing") == 0.0
