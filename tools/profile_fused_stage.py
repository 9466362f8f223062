"""Profile the fused synth->extract->score kernel (verdict-r4 item #6).

Round 4 observed the flagship job's 8->32 scaling efficiency sliding to
75% of the measured multiprocessing ceiling. The ceiling kernel
(tools/bench_scaling.py _CEILING_CHILD) runs synth+extract ONLY, while
the fused Spark stage also runs the full metric suite (score_frame:
BLEU, METEOR with from-scratch stemming, token PRF, edit distance) —
so the comparison is job-vs-a-LIGHTER-kernel. This tool answers two
questions in one run, no Spark involved:

  1. stage composition: per-doc wall time of synth / extract / score
     single-core — which stage owns the per-doc cost;
  2. scaling attribution: the multiprocessing ceiling at the given
     levels for the LIGHT kernel (synth+extract, what bench_scaling
     measures) vs the FULL kernel (synth+extract+score, what the job
     actually runs). If the full kernel's own 8->32 mc efficiency
     matches the job's, the gap is the kernel's memory profile on this
     box, not Spark overhead.

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


def _rows(sf_dir: str):
    import duckdb

    return duckdb.connect().execute(
        "SELECT doc_id, text, lang FROM read_parquet(?) ORDER BY doc_id",
        [sf_dir + "/documents.parquet"]).fetchall()


def stage_times(sf_dir: str, reps: int = 2) -> dict:
    from docling_eval_spark.corpus.html_synth import synth_html
    from docling_eval_spark.extraction.boilerplate import extract_main_text
    from docling_eval_spark.functions.text_metrics import score_text_pair

    rows = _rows(sf_dir)
    t0 = time.perf_counter()
    htmls = [synth_html(d, t, l).decode() for _ in range(reps)
             for d, t, l in rows]
    t_synth = time.perf_counter() - t0
    t0 = time.perf_counter()
    extracted = [extract_main_text(h) for h in htmls]
    t_extract = time.perf_counter() - t0
    texts = [t for _ in range(reps) for _, t, _ in rows]
    t0 = time.perf_counter()
    for r, t in zip(extracted, texts):
        score_text_pair(r["text"], t)
    t_score = time.perf_counter() - t0
    n = len(htmls)
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
    from docling_eval_spark.corpus.html_synth import synth_html
    from docling_eval_spark.extraction.boilerplate import extract_main_text
    from docling_eval_spark.functions.text_metrics import score_text_pair

    rows = _rows(sf_dir)
    cnt = 0
    for r in range(reps):
        for doc_id, text, lang in rows:
            res = extract_main_text(
                synth_html(doc_id * reps + r, text, lang).decode())
            if with_score:
                score_text_pair(res["text"], text)
            cnt += 1
    return cnt


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
