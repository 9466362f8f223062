"""Profile the fused synth->extract->score kernel, no Spark involved.

Times the functions the flagship stage runs on each Arrow batch
(plans/pipeline.py _extract_and_score: _synth_source, extract_frame,
score_frame) and answers two questions:

  1. stage composition: per-doc wall time of synth / extract / score
     single-core — which stage owns the per-doc cost;
  2. scaling attribution: the multiprocessing ceiling at the given
     levels for the LIGHT kernel (synth+extract, what
     tools/bench_scaling.py measures) vs the FULL kernel
     (synth+extract+score, what the job runs). If the full kernel's own
     mc efficiency matches the job's, the gap is the kernel's memory
     profile on the host, not Spark overhead.

Usage: python tools/profile_fused_stage.py [--sf-dir ...] [--levels 8,32]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _batch(sf_dir: str, reps: int):
    """The documents table `reps` times, with distinct doc_ids per
    replica (so each replica synthesizes distinct html)."""
    import duckdb
    import pandas as pd

    docs = duckdb.connect().execute(
        "SELECT doc_id, text, lang FROM read_parquet(?) ORDER BY doc_id",
        [sf_dir + "/documents.parquet"]).df()
    return pd.concat([docs.assign(doc_id=docs["doc_id"] * reps + r)
                      for r in range(reps)], ignore_index=True)


def stage_times(sf_dir: str, reps: int = 2) -> dict:
    from docling_eval_spark.extraction.extract import extract_frame
    from docling_eval_spark.plans.pipeline import _synth_source, score_frame

    pdf = _batch(sf_dir, reps)
    t0 = time.perf_counter()
    urls, htmls = _synth_source(pdf)
    htmls = list(htmls)
    t_synth = time.perf_counter() - t0
    t0 = time.perf_counter()
    extracted = extract_frame(pdf, urls, htmls)
    t_extract = time.perf_counter() - t0
    t0 = time.perf_counter()
    score_frame(extracted)
    t_score = time.perf_counter() - t0
    n = len(pdf)
    total = t_synth + t_extract + t_score
    return {
        "docs": n,
        "per_doc_ms": {
            "synth": round(1000 * t_synth / n, 4),
            "extract": round(1000 * t_extract / n, 4),
            "score": round(1000 * t_score / n, 4),
        },
        "fractions": {
            "synth": round(t_synth / total, 3),
            "extract": round(t_extract / total, 3),
            "score": round(t_score / total, 3),
        },
    }


def _work(args):
    seed, reps, sf_dir, with_score = args
    from docling_eval_spark.extraction.extract import extract_frame
    from docling_eval_spark.plans.pipeline import _synth_source, score_frame

    pdf = _batch(sf_dir, reps)
    out = extract_frame(pdf, *_synth_source(pdf))
    if with_score:
        score_frame(out)
    return len(out)


def mc_ceiling(sf_dir: str, procs: int, reps: int, with_score: bool) -> float:
    with mp.Pool(procs) as p:
        t0 = time.perf_counter()
        res = p.map(_work, [(i, reps, sf_dir, with_score)
                            for i in range(procs)])
        wall = time.perf_counter() - t0
    return sum(res) / wall


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]

    out = {"stages": stage_times(args.sf_dir)}
    for with_score in (False, True):
        kern = "full" if with_score else "light"
        tps = {L: round(mc_ceiling(args.sf_dir, L, args.reps, with_score), 1)
               for L in levels}
        out[f"mc_{kern}"] = tps
        for a, b in zip(levels, levels[1:]):
            out[f"mc_{kern}_eff_{a}_{b}"] = round(
                (tps[b] / tps[a]) / (b / a), 3)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
