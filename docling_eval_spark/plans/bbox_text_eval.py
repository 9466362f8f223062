"""Bbox-text pipeline: argmax-IoU box pairing + text metrics on pairs.

Rebuild of the reference BboxTextEvaluator (docling_eval/evaluators/
bbox_text_evaluator.py): pair every predicted box with its argmax-IoU GT
box (:181-292, the O(n*m) loop replaced by one numpy IoU matrix per doc),
keep orphans as unmatched units (:241-249), then score the matched text
pairs with the token metric suite (:302-314). The spatial join is
confined to one document, so it never crosses a partition — the classic
"range join that isn't": per-doc grouped work inside an Arrow batch.

Box text is synthesized deterministically per (doc_id, box rank) so the
match counts AND text scores have closed-form SQL oracles (matched pairs
carry identical text; only the pairing itself can fail).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus.layout_synth import gt_page, mode, pred_page
from ..functions.layout_metrics import greedy_argmax_iou_match
from ..functions.text_metrics import score_text_pair
from ..session import row_stage
from ..sources.tables import read_documents

BBOX_TEXT_SCHEMA = (
    "doc_id bigint, mode int, n_matched int, n_orphan_gt int, "
    "n_orphan_pred int, mean_iou double, mean_f1 double, mean_edit double"
)


def box_text(doc_id: int, rank: int) -> str:
    return f"block {doc_id % 97} {rank} content words"


def _bbox_text(d):
    gt_boxes, _ = gt_page(d)
    pr_boxes, _, _ = pred_page(d)
    matches, orphan_pred, orphan_gt = greedy_argmax_iou_match(
        pivot_boxes=gt_boxes, other_boxes=pr_boxes)
    f1s, edits, ious = [], [], []
    for o, p, iou in matches:
        s = score_text_pair(box_text(d, o), box_text(d, p))
        f1s.append(s["f1_score"])
        edits.append(s["edit_distance"])
        ious.append(iou)
    n = len(matches)
    yield (d, mode(d), n, len(orphan_gt), len(orphan_pred),
           sum(ious) / n if n else 0.0,
           sum(f1s) / n if n else 0.0,
           sum(edits) / n if n else 0.0)


def bbox_text_scores(spark: SparkSession, sf_dir: str,
                     n_partitions: int = 16) -> DataFrame:
    docs = read_documents(spark, sf_dir, ["doc_id"], n_partitions) \
        .where(F.col("doc_id") % 4 < 3)  # modes 0-2 have closed forms
    return row_stage(docs, _bbox_text, BBOX_TEXT_SCHEMA)
