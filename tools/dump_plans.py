"""Dump `.explain("formatted")` physical plans of the headline queries to
PLANS.md — reviewable evidence that the plans are the ones a 100 TB run
needs (pushed filters, pruned scans, broadcast joins, partial aggregates,
no stray Python stages).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "doc_stats", "extract_identity_rate", "ocr_page_cer", "gt_builder_spans",
    "multi_prov_guard", "doclaynet_v2_kv",
    "duplicate_spans", "ngram_decontaminate",
    "stratified_sample_langs", "url_filter_pages",
    "dedup_against_history",
    # round 4
    "url_dedup_canonical", "gopher_repetition_full", "warc_roundtrip",
    "perplexity_buckets",
    # round 5: the de-globalized P1 slice (NO unpartitioned window / no
    # SinglePartition exchange must appear) and the classifier stage
    "range_slice", "lang_id_classifier",
    # index-first ingestion: the manifest must show scan-speed native
    # parse + partial-aggregable collapses (no window), and the robots
    # verdict a broadcast join with zero Python stages
    "cdx_fetch_manifest", "robots_txt_verdicts",
    # mixing (scan-speed threshold predicate), semantic dedup
    # (cluster-scoped pair join)
    "temperature_mix_sample", "semdedup_keep",
]


def _lazy_special(spark, sf_dir):
    """Eagerly-materializing operators (they checkpoint or persist
    internally) would show their stored leaves under plain explain;
    compose their LAZY plan trees from the pieces the near-dedup pipeline
    runs (exact stage -> minhash_signatures -> history probe -> pair step
    -> left-anti) so PLANS.md evidences the real operator trees (scans,
    pushdown, joins, partial aggregates). Each frame the pipeline stores
    (a checkpoint or a cache) is an empty RDD leaf here, so its subtree
    is explained once. Corpus mAP finishes on the driver;
    its distributed part is the bins aggregate."""
    from pyspark.sql import functions as F

    from docling_eval_spark.operators.dedup import (
        _history_matches,
        dedup_against,
        exact_dedup,
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_verify,
        with_near_dups,
    )
    from docling_eval_spark.operators.layout_agg import binned_pr_counts
    from docling_eval_spark.operators.skew import salted_repartition
    from docling_eval_spark.plans.layout_eval import layout_partials
    from docling_eval_spark.sources.tables import read_documents

    docs = read_documents(spark, sf_dir, ["doc_id", "text"])
    corpus = salted_repartition(with_near_dups(docs), 8, key="doc_id")

    def leaf(df):  # an RDD leaf, so the optimizer cannot fold it away
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), df.schema)

    reps = exact_dedup(corpus)
    reps_leaf = leaf(reps)
    sigs = minhash_signatures(reps_leaf)
    cands = minhash_lsh_candidates(leaf(sigs), max_bucket_size=1000)
    pairs = ngram_jaccard_verify(reps_leaf, leaf(cands), threshold=0.8)
    drop = pairs.select(F.col("b").alias("doc_id")).distinct()
    hist = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    return {
        "minhash_near_dup(lazy)": ngram_jaccard_verify(
            corpus, minhash_lsh_candidates(minhash_signatures(corpus)),
            threshold=0.8),
        "near_dedup_kept(lazy): exact stage": reps,
        "near_dedup_kept(lazy): signing (reps a leaf)": sigs,
        "near_dedup_kept(lazy): candidates (sigs a leaf)": cands,
        "near_dedup_kept(lazy): verify + left-anti (reps, cands leaves)":
            reps_leaf.join(drop, on="doc_id", how="left_anti").select("doc_id"),
        "near_dedup_against(lazy): history probe (reps, sigs leaves)":
            _history_matches(leaf(dedup_against(batch, hist)), leaf(sigs),
                             hist, None, "text", "doc_id", 0.8, None),
        "layout_corpus_map(partial aggregate)": binned_pr_counts(
            layout_partials(spark, sf_dir)),
    }

CHECKS = {
    "doc_stats": ["ReadSchema: struct<n_chars:bigint>", "partial_"],
    "gt_builder_spans": ["PushedFilters: [IsNotNull(doc_id), "
                         "LessThan(doc_id,200)]", "BroadcastHashJoin"],
    # NULL lang is a stratum, so the scan pushes no IsNotNull(lang)
    "stratified_sample_langs": ["BroadcastHashJoin", "partial_"],
    "layout_corpus_map(partial aggregate)": ["partial_"],
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from docling_eval_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("dump-plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    sections = []
    failures = []
    specials = _lazy_special(spark, sf_dir)
    targets = [(n, lambda n=n: qs[n](spark, sf_dir)) for n in HEADLINE] + \
              [(n, lambda d=d: d) for n, d in specials.items()]
    for name, build in targets:
        df = build()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        for needle in CHECKS.get(name, []):
            if needle not in plan:
                failures.append(f"{name}: expected `{needle}` in plan")
        # keep the operator tree + the scan details, drop codegen noise
        head = plan.split("\n\n")[0]
        details = "\n".join(
            l for l in plan.splitlines()
            if l.startswith(("(", "Output", "PushedFilters", "ReadSchema",
                             "Arguments", "Functions", "Keys"))
        )
        sections.append(f"## {name}\n\n```\n{head}\n\n{details[:4000]}\n```\n")

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(
            "# PLANS — physical plans of headline queries\n\n"
            "Generated by `python tools/dump_plans.py` at sf_dir="
            f"`{sf_dir}`. What to look for: `PushedFilters` reaching the "
            "parquet scans, `ReadSchema` pruned to referenced columns, "
            "`BroadcastHashJoin` on dimension joins, `partial_`/final "
            "aggregate pairs (map-side combine), and Python appearing only "
            "in deliberate `mapInPandas` stages.\n\n" + "\n".join(sections))
    if failures:
        print("PLAN CHECK FAILURES:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    print(f"wrote {out} ({len(sections)} plans, all checks passed)")
    spark.stop()


if __name__ == "__main__":
    main()
