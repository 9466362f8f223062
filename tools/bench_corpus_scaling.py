"""Two-level scaling evidence for the corpus tier.

Same methodology as tools/bench_webtext_scaling.py (fresh CPU-pinned
JVM per level, warmup, best-of-runs, deterministically amplified
corpus, same-run pure-JVM hardware-ceiling probe), applied to the two
heaviest round-3 corpus passes:

  - duplicate_span_stats: (gram-hash, doc, pos) index over every token
    8-gram, corpus-repeated filter, lag-window interval merge — the
    gram explosion plus a corpus-wide groupBy on 128-bit hashes;
  - dup_components: connected components over exact-text star edges by
    min-label propagation + pointer doubling — iterative keyed
    shuffles with localCheckpoint barriers.

Replication makes every replica family an exact-dup clique, so both
passes run at full duplicate mass (worst-case shuffle volume) and the
answers are level-invariant, which the tool asserts.

Usage:
    python tools/bench_corpus_scaling.py [--sf-dir /root/testdata/sf0.1]
        [--levels 8,32] [--runs 2] [--replicate 10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canary() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(4_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 3)


_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from docling_eval_spark.session import get_spark
from docling_eval_spark.corpus.generator import pages_from_documents
from docling_eval_spark.operators.dedup import dup_components
from docling_eval_spark.operators.webtext import duplicate_span_stats

cpus = int(sys.argv[1]); sf_dir = sys.argv[2]; runs = int(sys.argv[3])
replicate = int(sys.argv[4])
spark = get_spark("bench-corpus-scaling", master=f"local[{{cpus}}]",
                  extra_confs={{"spark.sql.shuffle.partitions": str(cpus)}})
spark.sparkContext.setLogLevel("ERROR")


def spans_pass(light):
    out = duplicate_span_stats(light, n=8)
    return out.agg(
        F.sum("n_dup_positions").alias("dup_pos"),
        F.sum("dup_covered_tokens").alias("covered"))


def components_pass(light):
    hashed = light.select("doc_id", F.md5("text").alias("h"))
    fam = hashed.groupBy("h").agg(F.min("doc_id").alias("mn"))
    star = (hashed.join(fam, "h")
            .where(F.col("doc_id") != F.col("mn"))
            .select(F.col("doc_id").alias("a"), F.col("mn").alias("b")))
    comps = dup_components(star)
    return comps.agg(F.count("*").alias("n_nodes"),
                     F.sum("component").alias("comp_sum"))


# warmup at tiny scale (JVM codegen, shuffle + checkpoint machinery)
w = pages_from_documents(spark, "/root/testdata/sf0.001",
                         n_partitions=cpus, pages_stage=False)
spans_pass(w).collect(); components_pass(w).collect()

light = pages_from_documents(spark, sf_dir, n_partitions=cpus * 2,
                             replicate=replicate, pages_stage=False)
light = light.persist()
n_docs = light.count()
best_s = best_c = float("inf")
for _ in range(runs):
    t0 = time.perf_counter()
    s = spans_pass(light).collect()[0]
    t1 = time.perf_counter()
    c = components_pass(light).collect()[0]
    t2 = time.perf_counter()
    best_s = min(best_s, t1 - t0)
    best_c = min(best_c, t2 - t1)
    # release the operators' internal caches between runs (outside the
    # timed region), then re-pin the input
    spark.catalog.clearCache()
    light = light.persist(); light.count()
print("CHILD " + json.dumps({{
    "cpus": cpus, "n_docs": n_docs,
    "spans_sec": round(best_s, 3), "comps_sec": round(best_c, 3),
    "spans_docs_per_sec": round(n_docs / best_s, 2),
    "comps_docs_per_sec": round(n_docs / best_c, 2),
    "dup_pos": int(s["dup_pos"]), "covered": int(s["covered"]),
    "n_nodes": int(c["n_nodes"]), "comp_sum": int(c["comp_sum"])}}))
spark.stop()
"""


_CEILING_CHILD = r"""
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from docling_eval_spark.session import get_spark
cpus = int(sys.argv[1])
spark = get_spark("jvm-ceiling", master=f"local[{{cpus}}]",
                  extra_confs={{"spark.sql.shuffle.partitions": str(cpus)}})
spark.sparkContext.setLogLevel("ERROR")


def mk():
    return (spark.range(0, 20_000_000, 1, cpus * 2)
            .withColumn("s", F.concat(F.lit("word stream value number "),
                                      (F.col("id") % 997).cast("string")))
            .select(F.sum(F.size(F.split("s", " "))).alias("n")))


mk().collect()
best = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    mk().collect()
    best = min(best, time.perf_counter() - t0)
print("CHILD " + str(round(best, 3)))
spark.stop()
"""


def _run(script: str, args: list[str], cpus: int, timeout: int) -> str:
    cmd = [sys.executable, "-c", script] + args
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    proc = subprocess.run(cmd, capture_output=True, text=True,
                          timeout=timeout)
    line = next((ln for ln in proc.stdout.splitlines()
                 if ln.startswith("CHILD ")), None)
    if line is None:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"child at {cpus} cores failed")
    return line[len("CHILD "):]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--replicate", type=int, default=10)
    args = ap.parse_args()

    levels = [int(x) for x in args.levels.split(",")]
    c_before = canary()
    results = [json.loads(_run(_CHILD.format(repo=REPO),
                               [str(l), args.sf_dir, str(args.runs),
                                str(args.replicate)], l, 2400))
               for l in levels]
    ceilings = {l: float(_run(_CEILING_CHILD.format(repo=REPO),
                              [str(l)], l, 600)) for l in levels}
    for r in results:
        r["ceiling_sec"] = ceilings[r["cpus"]]
    out: dict = {"levels": results, "pairs": [],
                 "host_canary_sec": {"before": c_before,
                                     "after": canary()}}
    by = {r["cpus"]: r for r in results}
    for n in levels:
        if n * 4 in by:
            ceil_eff = (ceilings[n] / ceilings[n * 4]) / 4
            out["pairs"].append({
                "pair": f"{n}->{n * 4}",
                "spans_efficiency": round(
                    (by[n * 4]["spans_docs_per_sec"]
                     / by[n]["spans_docs_per_sec"]) / 4, 3),
                "comps_efficiency": round(
                    (by[n * 4]["comps_docs_per_sec"]
                     / by[n]["comps_docs_per_sec"]) / 4, 3),
                "hw_ceiling_efficiency": round(ceil_eff, 3)})
    answers = {(r["dup_pos"], r["covered"], r["n_nodes"], r["comp_sum"])
               for r in results}
    out["answer_invariant"] = len(answers) == 1
    print(json.dumps(out))


if __name__ == "__main__":
    main()
