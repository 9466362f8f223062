"""Benchmark harness (driver contract).

Runs the headline jobs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] (default: the usable cores) and prints ONE
JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...}

Methodology (round 3): each query group runs in a FRESH JVM subprocess so
a heavy group's GC/codegen/Python-worker residue cannot inflate later
groups — round 2 showed the single-session 18-query suite measuring JVM
contention (+23% on unchanged plans) while the pinned dedicated ladder
improved. A single-core host-contention canary runs before and after the
suite and is reported alongside, so cross-round comparisons on this
shared VM can be normalized (BENCH.md documents 3-25x host windows).

The flagship number is end-to-end extract+score docs/sec (BASELINE.json
metric). Scaling-efficiency evidence (same job at two parallelism levels)
is produced by tools/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Query groups, each executed in its own fresh JVM. Grouping keeps JVM
# startup amortized (4 sessions, not 18) while isolating the heavy
# Arrow/Python stages from the light JVM-only SQL queries.
GROUPS: dict[str, list[str]] = {
    "eval": [
        "teds_tables_identity", "layout_image_metrics", "layout_corpus_map",
        "reading_order_ard", "ocr_page_cer", "table_delta_histogram",
        "gt_builder_spans",
    ],
    "dedup": [
        "minhash_near_dup", "near_dedup_kept", "dedup_exact", "token_counts",
    ],
    "sql": [
        "doc_stats", "doc_len_histogram", "cumulative_histogram",
        "range_slice", "embedding_topk",
    ],
    "webtext": [
        "webtext_line_dedup", "gopher_quality", "webtext_unigram_nll",
    ],
    # round-3 corpus tier; own fresh JVM so the webtext group's
    # cross-round numbers stay comparable (BENCH.md: excluded from
    # common-subtotal comparisons)
    "corpus": [
        "duplicate_spans", "dedup_components",
    ],
    # round-4 ingestion/curation additions; own fresh JVM so older
    # groups' cross-round numbers stay comparable (BENCH.md: excluded
    # from common-subtotal comparisons)
    "ingest": [
        "warc_roundtrip", "url_dedup_canonical",
        "gopher_repetition_full",
        # round-5 index-first tier
        "cdx_ranged_fetch",
    ],
}


def _burn(_i: int) -> int:
    acc = 0
    for i in range(4_000_000):
        acc += i * i
    return acc


def _canary() -> float:
    """Single-core pure-CPU probe (~0.3 s unloaded). Rises with host
    contention; lets readers normalize cross-round absolute times."""
    t0 = time.perf_counter()
    _burn(0)
    return round(time.perf_counter() - t0, 3)


def _canary_mc(procs: int = 8) -> float:
    """Multi-core probe: `procs` processes burning concurrently
    (~the 1-core time unloaded; rises when OTHER tenants hold cores).
    A 1-core probe alone is blind to exactly the contention that hurts
    a 32-thread Spark suite — observed: clean 1-core canaries beside a
    25% multi-core throughput collapse."""
    from multiprocessing import Pool

    t0 = time.perf_counter()
    with Pool(procs) as p:
        p.map(_burn, range(procs))
    return round(time.perf_counter() - t0, 3)


def _timed(spark, fn, runs: int = 2) -> float:
    """Steady-state timing: best of `runs` (first run pays one-time
    codegen/broadcast/Python-worker costs that a long-lived cluster job
    amortizes away). clearCache() between runs releases caller-owned
    persisted frames (corpus_map pairs) so each query is measured
    cold-cache; the dedup queries' local checkpoints are not caches and
    stay until the group's process exits. bench owns no long-lived
    caches of its own."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return best


def _run_group(group: str, sf_dir: str, cpus: int) -> None:
    """Child-process entry: run one query group in this fresh JVM and
    print its partial timing dict as one JSON line."""
    from docling_eval_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(f"bench-{group}", master=f"local[{cpus}]",
                      extra_confs={"spark.sql.shuffle.partitions": str(cpus)})
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {}

    if group == "flagship":
        from docling_eval_spark.plans.pipeline import flagship, flagship_rollup

        # warmup: spin up JVM stage machinery + Python UDF workers on a
        # tiny slice so the measured number is steady-state throughput.
        flagship_rollup(
            flagship(spark, "/root/testdata/sf0.001", n_partitions=cpus)
        ).collect()

        summary: dict = {}

        def _run() -> None:
            summary.update(flagship_rollup(
                flagship(spark, sf_dir, n_partitions=cpus * 2)
            ).collect()[0].asDict())

        t_flag = _timed(spark, _run)
        out["timings"] = {"flagship_extract_score": round(t_flag, 3)}
        out["n_docs"] = summary["n_docs"]
        out["docs_per_sec"] = round(summary["n_docs"] / t_flag, 2)
        out["byte_identical_rate"] = round(
            summary["n_byte_identical"] / max(summary["n_docs"], 1), 6)

        # steady-state throughput: amplify the corpus (x24 deterministic
        # replication) so the measurement is work-bound, not
        # job-overhead-bound — what a long-running 100 TB job sustains.
        s_sum: dict = {}

        def _run_steady() -> None:
            s_sum.update(flagship_rollup(
                flagship(spark, sf_dir, n_partitions=cpus * 2, replicate=24)
            ).collect()[0].asDict())

        t_steady = _timed(spark, _run_steady, runs=1)
        out["timings"]["flagship_steady_state"] = round(t_steady, 3)
        out["docs_per_sec_steady_state"] = round(s_sum["n_docs"] / t_steady, 2)
    else:
        qs = entrymod.queries()
        # warm EVERY query in the group at the smallest SF first: a fresh
        # JVM needs the whole-stage-codegen + C2-JIT + Python-worker pool
        # hot before timing, else light queries measure JIT, not work
        for name in GROUPS[group]:
            qs[name](spark, "/root/testdata/sf0.001").collect()
        spark.catalog.clearCache()
        timings = {}
        for name in GROUPS[group]:
            timings[name] = round(
                _timed(spark, lambda n=name: qs[n](spark, sf_dir).collect(),
                       runs=3 if group == "sql" else 2), 3)
        out["timings"] = timings

        if group == "webtext":
            # curation-tier throughput headline: replicate the corpus 20x
            # (distinct doc_ids, light rows only) and run the full
            # Gopher-flags -> corpus-line-dedup chain — a corpus-wide
            # shuffle workload, what the curation pass costs per doc in a
            # long-running job.
            from pyspark.sql import functions as F

            from docling_eval_spark.corpus.generator import (
                pages_from_documents)
            from docling_eval_spark.operators.webtext import (
                corpus_line_dedup, with_gopher_quality, with_word_lines)

            light = pages_from_documents(
                spark, sf_dir, n_partitions=cpus * 2, replicate=20,
                pages_stage=False)
            n_docs = light.count()

            def _cur() -> None:
                lined = with_word_lines(light, words_per_line=3)
                deduped = corpus_line_dedup(lined, text_col="text_lines")
                flagged = with_gopher_quality(
                    deduped.where(F.col("n_kept") > 0))
                flagged.agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("gopher_pass").cast("int")).alias("n_pass"),
                    F.sum("n_kept").alias("lines_kept"),
                ).collect()

            t_cur = _timed(spark, _cur, runs=2)
            out["timings"]["webtext_curation_amplified"] = round(t_cur, 3)
            out["webtext_docs_per_sec"] = round(n_docs / t_cur, 2)

    print("BENCH_PARTIAL " + json.dumps(out), flush=True)
    spark.stop()


# Quiet-host canary baselines (rounds 1-2 measured 0.24 s single-core on
# an unloaded box; the 8-process probe pays ~Pool-startup on top). A group
# whose post-run canary exceeds GATE x baseline ran in a contended window:
# its numbers measure the neighbors, not the code — retry it, and if the
# window never clears, say so in the artifact instead of recording
# incomparable numbers as if they were clean.
CANARY_BASELINE_SEC = 0.24
CANARY_MC_BASELINE_SEC = 0.30
CANARY_GATE = 1.25
MAX_GROUP_RETRIES = 2


def _contended(c1: float, mc: float) -> bool:
    return (c1 > CANARY_BASELINE_SEC * CANARY_GATE
            or mc > CANARY_MC_BASELINE_SEC * CANARY_GATE)


def main() -> None:
    from docling_eval_spark.session import usable_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = usable_cpus()

    if len(sys.argv) > 2 and sys.argv[1] == "--group":
        _run_group(sys.argv[2], sf_dir, cpus)
        return

    canary_before = _canary()
    canary_mc_before = _canary_mc()
    timings: dict[str, float] = {}
    merged: dict[str, object] = {}
    group_canaries: dict[str, float] = {}
    group_canaries_mc: dict[str, float] = {}
    retries: dict[str, int] = {}
    for group in ["flagship", *GROUPS]:
        # canary-gated: a group bracketed by a hot canary reran in the
        # hope of a quieter window; the attempt with the quietest canary
        # is recorded (its timings are the most comparable ones we got)
        best = None
        for attempt in range(1 + MAX_GROUP_RETRIES):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--group", group],
                capture_output=True, text=True, env=os.environ,
                timeout=1800)
            line = next(
                (ln for ln in proc.stdout.splitlines()
                 if ln.startswith("BENCH_PARTIAL ")), None)
            if line is None:
                sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
                raise RuntimeError(f"bench group {group} produced no result")
            part = json.loads(line[len("BENCH_PARTIAL "):])
            c1, mc = _canary(), _canary_mc()
            if best is None or (c1 + mc) < (best[1] + best[2]):
                best = (part, c1, mc)
            if not _contended(c1, mc):
                break
            if attempt < MAX_GROUP_RETRIES:
                retries[group] = attempt + 1
        part, c1, mc = best
        timings.update(part.pop("timings"))
        merged.update(part)
        group_canaries[group] = c1
        group_canaries_mc[group] = mc
    canary_after = _canary()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "end_to_end_extract_score_plus_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "n_docs": merged["n_docs"],
        "docs_per_sec": merged["docs_per_sec"],
        "docs_per_sec_steady_state": merged["docs_per_sec_steady_state"],
        "webtext_docs_per_sec": merged["webtext_docs_per_sec"],
        "byte_identical_rate": merged["byte_identical_rate"],
        "cpus": cpus,
        "fresh_jvm_groups": len(GROUPS) + 1,
        "host_canary_sec": {"before": canary_before, "after": canary_after,
                            "per_group": group_canaries},
        "host_canary_mc_sec": {"before": canary_mc_before,
                               "after": _canary_mc(),
                               "per_group": group_canaries_mc},
        "canary_gate": {
            "baseline_sec": CANARY_BASELINE_SEC,
            "mc_baseline_sec": CANARY_MC_BASELINE_SEC,
            "gate": CANARY_GATE,
            "retries": retries,
            # True when some group NEVER got a quiet window despite
            # retries: its absolute times are not comparable to
            # quiet-window rounds — read ratios, not absolutes
            "contended_window": any(
                _contended(group_canaries[g], group_canaries_mc[g])
                for g in group_canaries),
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
