"""Layout pipeline: synthetic layout pages -> per-image metrics + corpus mAP.

Rebuild of the reference LayoutEvaluator (docling_eval/evaluators/
layout_evaluator.py):
  - per-image mAP / map_50 / map_75 (:268-349, per-image metric
    re-instantiation replaced by the numpy COCO kernel run inside ONE
    Arrow-batched stage);
  - area-mask precision/recall/F1 on a rasterized page (:690-779) — here
    500x500 so integer page coords rasterize exactly (closed-form oracles);
  - label-matched greedy weighted IoU at threshold 0.5 (:425-494);
  - corpus-level mAP (:246-266) as a distributed partial aggregate + a
    driver final over <= C x T x n_bins bins (operators/layout_agg.py)
    instead of a driver-side holistic metric over every detection.

All per-page work is fused into one mapInPandas stage (page data is tiny;
the only shuffle in the corpus-mAP path is the bounded
(label, thr_idx, score-bin) reduction, whose bins the driver collects).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus.layout_synth import MASK_SIZE, gt_page, mode, n_boxes, pred_page
from ..functions.layout_metrics import (
    greedy_label_matched_iou,
    image_map,
    mask_precision_recall_f1,
    match_detections,
)
from ..operators.layout_agg import class_ap_rows, class_threshold_aps, map_row
from ..session import row_stage
from ..sources.tables import read_documents

IMAGE_METRICS_SCHEMA = (
    "doc_id bigint, n_boxes int, mode int, map double, map_50 double, "
    "map_75 double, mask_precision double, mask_recall double, "
    "mask_f1 double, avg_iou_50 double"
)

PARTIALS_SCHEMA = (
    "doc_id bigint, kind string, label string, score double, "
    "tp array<boolean>, n_gt int"
)


def _image_metrics(d):
    gt_boxes, gt_labels = gt_page(d)
    pr_boxes, pr_labels, pr_scores = pred_page(d)
    m = image_map(pr_boxes, pr_labels, pr_scores, gt_boxes, gt_labels)
    mp, mr, mf1 = mask_precision_recall_f1(
        gt_boxes, pr_boxes, mask_width=MASK_SIZE, mask_height=MASK_SIZE)
    g = greedy_label_matched_iou(pr_boxes, pr_labels, gt_boxes, gt_labels,
                                 iou_thresh=0.5)
    yield (d, n_boxes(d), mode(d), m["map"], m["map_50"], m["map_75"],
           mp, mr, mf1, g["average_iou"])


def per_image_metrics(spark: SparkSession, sf_dir: str,
                      n_partitions: int = 16,
                      modes: tuple[int, ...] | None = None) -> DataFrame:
    """(doc_id, map, map_50, map_75, mask P/R/F1, weighted IoU@.5).

    `modes` filters docs by perturbation mode BEFORE the UDF stage, so the
    predicate prunes work, not just rows.
    """
    docs = read_documents(spark, sf_dir, ["doc_id"], n_partitions)
    if modes is not None:
        docs = docs.where((F.col("doc_id") % 4).isin(list(modes)))
    return row_stage(docs, _image_metrics, IMAGE_METRICS_SCHEMA)


def _partials(d):
    gt_boxes, gt_labels = gt_page(d)
    pr_boxes, pr_labels, pr_scores = pred_page(d)
    for c in np.unique(gt_labels):
        yield d, "gt", str(c), None, None, int((gt_labels == c).sum())
    for c in np.unique(pr_labels):
        pmask = pr_labels == c
        tp = match_detections(pr_boxes[pmask], pr_scores[pmask],
                              gt_boxes[gt_labels == c])
        for di in range(int(pmask.sum())):
            yield (d, "det", str(c), float(pr_scores[pmask][di]),
                   [bool(x) for x in tp[:, di]], None)


def layout_partials(spark: SparkSession, sf_dir: str, n_partitions: int = 16,
                    modes: tuple[int, ...] = (0, 1)) -> DataFrame:
    """The per-doc COCO-matching stage over the docs whose perturbation
    mode is in `modes`: detection and gt rows in one frame."""
    docs = read_documents(spark, sf_dir, ["doc_id"], n_partitions).where(
        (F.col("doc_id") % 4).isin(list(modes)))
    return row_stage(docs, _partials, PARTIALS_SCHEMA)


def _aps(spark: SparkSession, sf_dir: str, n_partitions: int,
         modes: tuple[int, ...]) -> pd.DataFrame:
    return class_threshold_aps(layout_partials(spark, sf_dir, n_partitions, modes))


def corpus_class_ap(spark: SparkSession, sf_dir: str, n_partitions: int = 16,
                    modes: tuple[int, ...] = (0, 1)) -> DataFrame:
    """Per-class corpus AP (the consolidator's class_<label> columns)."""
    return class_ap_rows(spark, _aps(spark, sf_dir, n_partitions, modes))


def layout_rollups(spark: SparkSession, sf_dir: str, n_partitions: int = 16,
                   modes: tuple[int, ...] = (0, 1)) -> dict[str, DataFrame]:
    """{'map': (map, map_50, map_75) row, 'class_ap': per-class rows} —
    both finals from one matching pass and one partial aggregate."""
    aps = _aps(spark, sf_dir, n_partitions, modes)
    return {"map": map_row(spark, aps), "class_ap": class_ap_rows(spark, aps)}


def corpus_map(spark: SparkSession, sf_dir: str, n_partitions: int = 16,
               modes: tuple[int, ...] = (0, 1)) -> DataFrame:
    """Corpus-level mAP over the docs whose perturbation mode is in `modes`
    (the default {identity, dropped-box} set has an exact SQL oracle:
    precision is 1 everywhere, so AP = (floor(100*TP/GT)+1)/101).

    Eager: the matching stage and the partial aggregate run here; the
    returned one-row frame is literals."""
    return map_row(spark, _aps(spark, sf_dir, n_partitions, modes))
