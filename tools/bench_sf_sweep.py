"""sf0.1 -> sf1.0 scaling-exponent sweep of the corpus tier.

The sf0.01 oracle proves correctness; this sweep catches CONSTANT-FACTOR
and super-linear surprises the small scales can't see: each corpus-tier
query runs once at sf0.1 (5k docs) and once at a deterministically
amplified 10x corpus (50k docs — the sf1.0 stand-in; /root/testdata is
read-only, so the amplified tables are materialized under /tmp with
replica doc_ids doc_id*10+r and vec_ids likewise). The per-query scaling
exponent is ln(t_10x / t_1x) / ln(10): ~1.0 is linear, >1.1 flags
super-linear work (quadratic candidate growth, driver-side collects that
grow with the corpus, window partitions that stopped being bounded).

Timing methodology matches bench.py: fresh JVM per tier, every query
warmed at sf0.001 first, best-of-2, clearCache between runs. Run only on
a quiet host (the canary prints first).

Usage: python tools/bench_sf_sweep.py [factor] > sweep.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # curation tier
    "webtext_line_dedup", "gopher_quality",
    "c4_line_filter", "pii_redaction", "webtext_domain_rollup",
    "webtext_unigram_nll", "webtext_latest_snapshot", "normalize_text",
    # sampling, decontamination and dedup tier
    "hash_sample_docs", "stratified_sample_langs", "ngram_decontaminate",
    "url_filter_pages", "duplicate_spans", "dedup_components",
    "dedup_against_history",
]

SRC = "/root/testdata/sf0.1"
AMP = "/tmp/spark_graft_sf1.0"


def _amplify(factor: int) -> None:
    from docling_eval_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("amplify", master="local[32]",
                      extra_confs={"spark.sql.shuffle.partitions": "32"})
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    r = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r")
    amp = (docs.select("*", r)
           .withColumn("doc_id", F.col("doc_id") * factor + F.col("_r"))
           .drop("_r"))
    amp.repartition(32).write.mode("overwrite") \
        .parquet(f"{AMP}/documents.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    amp_e = (emb.select("*", r)
             .withColumn("vec_id", F.col("vec_id") * factor + F.col("_r"))
             .drop("_r"))
    amp_e.repartition(32).write.mode("overwrite") \
        .parquet(f"{AMP}/embeddings.parquet")
    spark.stop()


def _run_tier(sf_dir: str) -> None:
    from docling_eval_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("sweep", master="local[32]",
                      extra_confs={"spark.sql.shuffle.partitions": "32"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in QUERIES:
        qs[name](spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()
    timings = {}
    for name in QUERIES:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
    print("SWEEP_PARTIAL " + json.dumps(timings), flush=True)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--tier":
        _run_tier(sys.argv[2])
        return
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    import bench
    canary = {"c1": bench._canary(), "mc": bench._canary_mc()}

    if not os.path.exists(f"{AMP}/documents.parquet"):
        _amplify(factor)

    tiers = {}
    for sf_dir in [SRC, AMP]:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--tier", sf_dir],
            capture_output=True, text=True, env=os.environ, timeout=3600)
        line = next((ln for ln in proc.stdout.splitlines()
                     if ln.startswith("SWEEP_PARTIAL ")), None)
        if line is None:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
            raise RuntimeError(f"tier {sf_dir} produced no result")
        tiers[sf_dir] = json.loads(line[len("SWEEP_PARTIAL "):])

    import math
    rows = {}
    for q in QUERIES:
        t1, t10 = tiers[SRC][q], tiers[AMP][q]
        rows[q] = {
            "sec_sf0.1": t1,
            "sec_sf1.0": t10,
            "exponent": round(math.log(max(t10, 1e-9) / max(t1, 1e-9))
                              / math.log(factor), 3),
        }
    out = {
        "factor": factor,
        "canary": canary,
        "canary_after": {"c1": bench._canary(), "mc": bench._canary_mc()},
        "queries": rows,
        "superlinear": [q for q, r in rows.items() if r["exponent"] > 1.1],
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
