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
    "pricing_summary", "top_orders", "region_revenue",
    "top_parts_per_brand", "event_sessions", "doc_stats",
    "extract_identity_rate", "ocr_page_cer", "gt_builder_spans",
    "multi_prov_guard", "doclaynet_v2_kv",
    "duplicate_spans", "ngram_decontaminate", "pack_sequences_docs",
    "stratified_sample_langs", "url_filter_pages", "epoch_shuffle_pos",
    "dedup_against_history",
    # round 4
    "bpe_token_counts", "url_dedup_canonical", "classifier_quality_sample",
    "train_split_assign", "gopher_repetition_full", "warc_roundtrip",
    "perplexity_buckets", "jpeg_decode_features",
    # round 5: the de-globalized P1 slice (NO unpartitioned window / no
    # SinglePartition exchange must appear), the classifier stage, and
    # the container-sniff fan-out
    "range_slice", "lang_id_classifier", "video_container_counts",
    "audio_decode_features",
    # index-first ingestion: the manifest must show scan-speed native
    # parse + partial-aggregable collapses (no window), and the robots
    # verdict a broadcast join with zero Python stages
    "cdx_fetch_manifest", "robots_txt_verdicts",
    # LM scoring (counts-only model, hash-only exchanges), mixing
    # (scan-speed threshold predicate), semantic dedup (cluster-scoped
    # pair join)
    "stupid_backoff_nll", "temperature_mix_sample", "semdedup_keep",
]


def _lazy_special(spark, sf_dir):
    """Eagerly-materializing operators (they persist + count internally)
    would show InMemoryTableScan under plain explain; build their LAZY
    plan trees via materialize=False so PLANS.md evidences the real
    operator trees (scans, pushdown, joins, partial aggregates). Corpus
    mAP finishes on the driver; its distributed part is the bins
    aggregate."""
    from docling_eval_spark.operators.dedup import (
        minhash_dedup_pairs,
        near_dedup,
        with_near_dups,
    )
    from docling_eval_spark.operators.layout_agg import binned_pr_counts
    from docling_eval_spark.operators.skew import salted_repartition
    from docling_eval_spark.plans.layout_eval import layout_partials
    from docling_eval_spark.sources.tables import read_documents

    docs = read_documents(spark, sf_dir, ["doc_id", "text"])
    corpus = salted_repartition(with_near_dups(docs), 8, key="doc_id")
    return {
        "minhash_near_dup(lazy)": minhash_dedup_pairs(
            corpus, materialize=False),
        "near_dedup_kept(lazy)": near_dedup(
            corpus, max_bucket_size=1000, materialize=False)
        .select("doc_id"),
        "layout_corpus_map(partial aggregate)": binned_pr_counts(
            layout_partials(spark, sf_dir)),
    }

CHECKS = {
    "pricing_summary": ["PushedFilters: [IsNotNull(l_shipdate)",
                        "partial_"],
    "top_orders": ["BroadcastHashJoin", "EqualTo(c_mktsegment,BUILDING)"],
    "region_revenue": ["BroadcastHashJoin"],
    "doc_stats": ["ReadSchema: struct<n_chars:bigint>"],
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
