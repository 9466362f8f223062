"""Executed-plan SQL metrics, read from outside the package.

`run_plan(df)` runs a DataFrame to completion through its own
QueryExecution and discards the rows — a no-op sink, like
`.write.format("noop")`, except that the executed plan stays reachable
from Python afterwards. `plan_nodes(qe)` then walks that plan:
AdaptiveSparkPlan.executedPlan() -> QueryStageExec.plan() -> children,
so the walk sees the final adaptive plan and the metrics its tasks
reported (works with the Spark UI disabled).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class PlanNode:
    name: str                      # e.g. "MapInPandas", "Exchange"
    metrics: dict = field(default_factory=dict)


def run_plan(df):
    """Execute `df` for its side effects only; return its QueryExecution."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe


def _children(plan):
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [plan.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [plan.plan()]
    out = []
    it = plan.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(qe, follow_cache: bool = False) -> list[PlanNode]:
    """Every physical operator of `qe`'s executed plan with its metrics.

    With `follow_cache`, for the plan of a frame persisted just before
    `run_plan`, the walk follows the frame's own in-memory scan into the
    plan that filled the cache during that execution. In-memory scans
    below it read caches filled earlier and are not followed."""
    out: list[PlanNode] = []
    stack = [qe.executedPlan()]
    while stack:
        p = stack.pop()
        if follow_cache and p.nodeName() == "InMemoryTableScan":
            follow_cache = False
            stack.append(p.relation().cachedPlan())
        ms = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = int(kv._2().value())
        out.append(PlanNode(p.nodeName(), ms))
        stack.extend(_children(p))
    return out


def totals(nodes: list[PlanNode]) -> dict:
    """Plan-wide sums of the metrics the benchmark reports (bytes, ms,
    counts as Spark records them), keyed `<metric>` or `<node>.<metric>`."""
    s: dict = defaultdict(int)
    for n in nodes:
        m = n.metrics
        if n.name == "MapInPandas":
            for k in ("pythonDataSent", "pythonDataReceived", "pythonBootTime",
                      "pythonInitTime", "pythonTotalTime"):
                s[k] += m.get(k, 0)
        if n.name == "Exchange":
            s["shuffleBytesWritten"] += m.get("shuffleBytesWritten", 0)
        if n.name.startswith("Scan"):
            s["scanFilesSize"] += m.get("filesSize", 0)
        for k in ("spillSize", "dataSpillSize"):
            s["spillSize"] += m.get(k, 0)
    return dict(s)
