"""Multi-evaluation orchestration: benchmark x experiment x modality.

Rebuild of the reference MultiEvaluator (docling_eval/aggregations/
multi_evalutor.py:142-282): `__call__` drives the grid; _build_datasets
(:164-231) creates missing GT / prediction datasets with skip-if-exists
probes; _run_evaluations (:233-282) reuses cached evaluation JSON
(:268-273 load_evaluation) and only computes the missing cells. The
resulting sidecar layout (`root/<benchmark>/<experiment>/
evaluation_<benchmark>_<modality>.json`) feeds the existing consolidator
(plans/consolidation.py).

Everything heavy (GT build, extraction, per-modality rollups) is a
distributed Spark job; the orchestration loop itself only probes paths
and reads k-row rollup JSON — driver-side by design, like the
reference's path bookkeeping.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

MODALITIES = ("markdown", "layout", "reading_order", "ocr", "table",
              "timings")


def evaluate_modality(spark: SparkSession, modality: str,
                      from_documents: str | None = None,
                      scored_input: str | None = None) -> dict:
    """One modality's full rollup dict (the body the CLI `evaluate`
    command writes as an evaluation sidecar). markdown consumes scored
    prediction rows; the other modalities build from the documents dir."""
    if modality == "markdown":
        from .pipeline import flagship_rollup

        scored = spark.read.parquet(scored_input)
        return flagship_rollup(scored).collect()[0].asDict()
    if modality == "layout":
        from .layout_eval import layout_rollups, per_image_metrics

        per = per_image_metrics(spark, from_documents)
        roll = per.agg(
            F.count("*").alias("total"),
            F.round(F.avg("map"), 6).alias("mean_map"),
            F.round(F.avg("mask_f1"), 6).alias("mean_mask_f1"),
        ).collect()[0].asDict()
        # one COCO-matching pass feeds both the corpus mAP row and the
        # consolidator's class_<label> columns (consolidator.py:214-217)
        rolls = layout_rollups(spark, from_documents)
        roll.update(rolls["map"].collect()[0].asDict())
        roll.update({f"class_{r['label']}": r["ap"]
                     for r in rolls["class_ap"].collect()})
        return roll
    if modality == "reading_order":
        from .reading_order_eval import (
            reading_order_rollup,
            reading_order_scores,
        )

        return reading_order_rollup(
            reading_order_scores(spark, from_documents)).collect()[0].asDict()
    if modality == "ocr":
        from .ocr_eval import ocr_rollup, ocr_scores, page_ocr_scores

        roll = ocr_rollup(
            ocr_scores(spark, from_documents)).collect()[0].asDict()
        # page-granular pass (reference ocr_evaluator.py:150-162 model)
        page = page_ocr_scores(spark, from_documents).agg(
            F.count("*").alias("total_pages"),
            F.round(F.avg("char_accuracy"), 6)
            .alias("page_mean_char_accuracy"),
        ).collect()[0].asDict()
        roll.update(page)
        return roll
    if modality == "table":
        from .table_eval import delta_histogram, teds_rollup, teds_scores

        # ONE persisted execution of the TEDS-scoring stage feeds both
        # the rollup and the full -10..10 delta histogram
        # (table_evaluator.py:51-90), flattened as delta_*_<d> counters
        scores = teds_scores(spark, from_documents).persist()
        try:
            roll = teds_rollup(scores).collect()[0].asDict()
            for r in delta_histogram(scores).collect():
                if r["n_rows"] or r["n_cols"] or r["delta"] == 0:
                    roll[f"delta_rows_{r['delta']}"] = r["n_rows"]
                    roll[f"delta_cols_{r['delta']}"] = r["n_cols"]
        finally:
            scores.unpersist()
        return roll
    if modality == "timings":
        from .report import docs_table, timings_stats, with_synthetic_timings

        rows = timings_stats(
            with_synthetic_timings(docs_table(spark, from_documents))
        ).collect()
        roll = {}
        for r in rows:
            for c in ("total", "mean_sec", "median_sec", "std_sec"):
                roll[f"{r['stage']}_{c}"] = r[c]
        return roll
    raise ValueError(f"unknown modality {modality}")


def dataset_exists(path: str) -> bool:
    """Skip-if-exists probe (reference dataset_exists semantics: shard
    files present, not just the directory)."""
    if not os.path.isdir(path):
        return False
    return any(fn.endswith(".parquet") for fn in os.listdir(path))


def load_evaluation(path: str) -> dict | None:
    """Cached-evaluation reuse (reference multi_evalutor.py:268-273):
    a readable sidecar short-circuits the evaluation; missing or
    corrupt files mean recompute."""
    try:
        with open(path) as f:
            doc = json.load(f)
        return doc["evaluation"]
    except (OSError, ValueError, KeyError):
        return None


def multi_evaluate(spark: SparkSession, root_dir: str,
                   benchmarks: dict[str, str],
                   experiments: list[str],
                   modalities: list[str] | tuple[str, ...] = MODALITIES,
                   partitions: int = 16) -> dict:
    """Drive the benchmark x experiment x modality grid.

    benchmarks maps benchmark name -> documents dir. Per benchmark, the
    GT pages dataset is built once under root/<benchmark>/gt_dataset
    (skip-if-exists); per experiment, predictions are extracted+scored
    once under root/<benchmark>/<experiment>/predictions; per modality,
    the evaluation sidecar is computed only when no cached JSON loads.
    Returns {"evaluations": {bench: {exp: {modality: roll}}},
    "stats": {gt_built, preds_built, computed, cached}} — the stats make
    the cache behavior assertable.
    """
    from ..corpus.generator import pages_from_documents
    from ..sources.tables import write_pages_table
    from .pipeline import extract_and_score
    from .report import write_evaluation_json

    stats = {"gt_built": 0, "preds_built": 0, "computed": 0, "cached": 0}
    evaluations: dict = {}
    for bench, docs_dir in benchmarks.items():
        gt_dir = os.path.join(root_dir, bench, "gt_dataset")
        if not dataset_exists(gt_dir):
            pages = pages_from_documents(spark, docs_dir,
                                         n_partitions=partitions)
            write_pages_table(pages, gt_dir, mode="overwrite")
            stats["gt_built"] += 1
        for exp in experiments:
            pred_dir = os.path.join(root_dir, bench, exp, "predictions")
            if not dataset_exists(pred_dir):
                scored = extract_and_score(
                    spark.read.parquet(gt_dir), n_partitions=partitions)
                scored.write.mode("overwrite").parquet(pred_dir)
                stats["preds_built"] += 1
            for modality in modalities:
                out = os.path.join(root_dir, bench, exp,
                                   f"evaluation_{bench}_{modality}.json")
                roll = load_evaluation(out)
                if roll is not None:
                    stats["cached"] += 1
                else:
                    roll = evaluate_modality(
                        spark, modality, from_documents=docs_dir,
                        scored_input=pred_dir)
                    write_evaluation_json(roll, out, benchmark=bench,
                                          modality=modality)
                    stats["computed"] += 1
                evaluations.setdefault(bench, {}).setdefault(
                    exp, {})[modality] = roll
    return {"evaluations": evaluations, "stats": stats}
