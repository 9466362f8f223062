"""What Spark's SQL status store recorded about the queries a test ran:
rows emitted by named Python stages, counted without re-running them."""

from __future__ import annotations


def next_execution(spark) -> int:
    """The id the next SQL execution will get."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return ex.apply(ex.size() - 1).executionId() + 1 if ex.size() else 0


def stage_rows(spark, since: int, stage: str) -> int:
    """Rows that the `MapInPandas <stage>` nodes of the SQL executions
    numbered `since` and later emitted. A node under a checkpoint or a
    cache that a later query reads again counts once, in the execution
    that computed it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    total = 0
    for i in range(ex.size()):
        eid = ex.apply(i).executionId()
        if eid < since:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not node.desc().startswith(f"MapInPandas {stage}("):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total
