"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_stored --seed 1 \
        --seconds 10 --trace 0

One process, one Spark session on local[<cores>], one client in a
closed loop: the next run of the workload starts when the previous one
has finished and been checked. Prints one line per metric, then, as the
last line, a JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics of a separate
traced run with --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "run_cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "spark.jobs": "count", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "arrow.sent_mb": "MB", "arrow.received_mb": "MB",
    "arrow.python_boot_s": "s", "arrow.python_init_s": "s",
    "arrow.python_total_s": "s",
    "sources.scan_s": "s", "sources.scan_mb": "MB", "sources.input_splits": "count",
    "sources.split_mb_max_over_mean": "ratio",
    "resume.s": "s",
    "skew.s": "s", "skew.shuffle_write_mb": "MB",
    "skew.partition_mb_max_over_mean": "ratio",
    "extraction.s": "s", "extraction.ms_per_doc": "ms",
    "extraction.heavy_ms_per_doc": "ms",
    "score.s": "s", "score.fastpath_ratio": "ratio", "score.slow_ms_per_doc": "ms",
    "write.s": "s", "write.output_mb": "MB", "lineage.s": "s", "job.summary_s": "s",
    "teds.s": "s", "teds.ms_per_table": "ms",
    "layout.map_s": "s", "layout.ms_per_page": "ms",
    "reading_order.s": "s", "reading_order.ms_per_doc": "ms",
    "ocr.s": "s", "ocr.ms_per_page": "ms",
    "webtext.gopher_s": "s", "webtext.line_dedup_s": "s",
    "webtext.lines_kept_ratio": "ratio",
    "dedup.s": "s", "dedup.minhash_ms_per_doc": "ms", "dedup.candidate_pairs": "count",
    "dedup.verify_yield": "ratio",
    "trace.run_s": "s", "trace.overhead_s": "s",
    "host.canary_before_s": "s", "host.canary_after_s": "s",
}


def _isolate(work: str) -> None:
    """Send every temporary file of this process, the JVM and the Python
    workers into `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def _group_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, shuffle bytes written, bytes spilled) of a Spark job group,
    from the status store the scheduler fills (no UI needed)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
    shuffle = spill = 0
    for s in stages:
        st = store.lastStageAttempt(s)
        shuffle += st.shuffleWriteBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return len(jobs), shuffle, spill


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this one is left; kill stragglers."""
    import signal

    from perfbench.host import descendants

    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def measure(args, work: str, cores: int, rss) -> tuple[dict, dict]:
    """Set up, run the closed loop, optionally trace; returns
    (result object, details)."""
    from perfbench.host import canary, steal_s, tree_cpu_s
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, effective_confs

    wl = WORKLOADS[args.workload](args.seed, work, cores)
    attempted = failed = 0
    problems: list[str] = []
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - t_phase
        t_phase = now

    canary_before = canary(cores)
    phase("canary")
    rss.start()  # after the canary, whose processes are not the program's

    def checked(spark, result) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            p = wl.check(spark, result)
        except Exception as e:
            traceback.print_exc()
            p = [f"the check raised {type(e).__name__}: {e}"]
        if p:
            failed += 1
            problems.extend(p)
            print("check failed: " + "; ".join(p), file=sys.stderr)

    # set-up: session start, fixture generation, one warm-up run. It is
    # measured once: a second session in the same JVM would skip the JVM
    # start and the cold first run that a user pays for.
    t0 = time.perf_counter()
    spark = wl.start_session()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    wl.prepare(spark)
    phase("fixture")
    warm = wl.run_once(spark, "warm-up")
    setup_s = time.perf_counter() - t0
    phase("warm_up")
    wl.expect()
    phase("oracle")
    checked(spark, warm)
    phase("check")
    for i in range(wl.settle):  # untimed, still checked
        checked(spark, wl.run_once(spark, f"settle-{i}"))
    phase("settle")
    shutil.rmtree(os.path.join(work, "runs"), ignore_errors=True)

    # measured closed loop
    sc = spark.sparkContext
    times, jobs, shuffle, spill, results = [], [], [], [], []
    cpu, peaks, share = [], [], []
    i = 0
    while (len(times) < wl.runs or sum(times) < args.seconds) and failed < 3:
        group = f"run-{i}"
        sc.setJobGroup(group, group)
        phase("loop")
        rss.take()
        c0, st0 = tree_cpu_s(os.getpid()), steal_s()
        t0 = time.perf_counter()
        try:
            res = wl.run_once(spark, i)
        except Exception as e:  # a run that raises counts as failed
            sc.setJobGroup("bench-check", "bench-check")
            attempted += 1
            failed += 1
            problems.append(f"run {i}: {type(e).__name__}: {e}")
            traceback.print_exc()
        else:
            times.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s(os.getpid()) - c0)
            share.append((steal_s() - st0) / (cores * times[-1]))
            peaks.append(rss.take())
            phase("runs")
            sc.setJobGroup("bench-check", "bench-check")
            checked(spark, res)
            phase("check")
            results.append(res)
        n, sh, sp = _group_stats(sc, group)
        jobs.append(n)
        shuffle.append(sh)
        spill.append(sp)
        shutil.rmtree(os.path.join(work, "runs"), ignore_errors=True)
        i += 1

    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    run_s = med(times)
    e2e = {
        "setup_s": setup_s,
        "run_cpu_s": med(cpu),
        "run_s": run_s,
        "docs_per_s": wl.n_docs / run_s if run_s else 0.0,
        "peak_rss_mb": med(peaks),
        "steal_share": med(share),
    }
    phase("loop")
    layer = {}
    if args.trace:
        tr = Tracer(f"{args.workload}-seed{args.seed}")
        layer, p = wl.traced(spark, tr)
        attempted += 1
        if p:
            failed += 1
            problems.extend(p)
            print("check failed: " + "; ".join(p), file=sys.stderr)
        traced_s = tr.duration(args.workload)
        layer.update({
            "spark.jobs": statistics.median(jobs),
            "spark.shuffle_write_mb": statistics.median(shuffle) / 2**20,
            "spark.spill_mb": statistics.median(spill) / 2**20,
            "trace.run_s": traced_s,
            "trace.overhead_s": traced_s - run_s,
        })
        os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                             f"{args.workload}-seed{args.seed}.json"))
    phase("traced")
    confs = effective_confs(spark)
    _stop_spark(spark)
    phase("stop")
    canary_after = canary(cores)
    phase("canary")
    layer["host.canary_before_s"] = canary_before
    layer["host.canary_after_s"] = canary_after

    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "docs": wl.n_docs, "runs": len(times), "run_times_s": times,
        "run_cpu_s": cpu, "run_peak_rss_mb": peaks, "run_steal_share": share,
        "error_rate": failed / attempted if attempted else 1.0,
        "canary_s": {"before": canary_before, "after": canary_after},
        "confs": confs, "problems": problems[:20], "phases_s": phases,
        **wl.details(results),
    }
    values = layer if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0 and bool(times),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    details["end_to_end"] = e2e
    return result, details


def _print_report(result: dict, details: dict) -> None:
    d = details
    print(f"workload {d['workload']}  seed {d['seed']}  local[{d['cores']}]  "
          f"{d['docs']} docs  {d['runs']} measured runs")
    e = d["end_to_end"]
    print(f"  setup_s              {e['setup_s']:10.3f} s")
    print(f"  run_cpu_s            {e['run_cpu_s']:10.3f} s    (median)")
    print(f"  run_s                {e['run_s']:10.3f} s    (median wall time; "
          f"{e['steal_share']:.1%} of the cores' time stolen by other tenants)")
    print(f"  docs_per_s           {e['docs_per_s']:10.1f} 1/s")
    print(f"  peak_rss_mb          {e['peak_rss_mb']:10.1f} MB   (median of the runs' peaks)")
    print(f"  error_rate           {d['error_rate']:10.3f} ratio  "
          f"({result['failed']} of {result['attempted']} runs failed)")
    if d.get("byte_identical_rate") is not None:
        print(f"  byte_identical_rate  {d['byte_identical_rate']:10.4f} ratio  "
              f"(generated {d['generated_identical_rate']:.4f})")
    c = d["canary_s"]
    print(f"  host canary          before {c['before']:.3f} s, after {c['after']:.3f} s")
    if result["metrics"] and "trace.run_s" in result["metrics"]:
        for k, m in result["metrics"].items():
            print(f"  {k:32s} {m['value']:12.4f} {m['unit']}")
    print("  confs " + json.dumps(d["confs"], sort_keys=True))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_stored", "eval_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "docling_eval_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "jobs", "extract_job.py")):
        print("perfbench: docling_eval_spark/ or jobs/ not found next to "
              "perfbench/; run it from a checkout of the repository",
              file=sys.stderr)
        return 2
    # import the package and perfbench from the checkout root; the
    # script's own directory would shadow stdlib names
    sys.path[0] = ROOT

    from perfbench.host import PeakRss, usable_cores

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    rss = PeakRss()
    try:
        result, details = measure(args, work, usable_cores(), rss)
    finally:
        rss.stop()
        _wait_children()
        shutil.rmtree(work, ignore_errors=True)
    _print_report(result, details)
    out = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"result": result, "details": details}, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
