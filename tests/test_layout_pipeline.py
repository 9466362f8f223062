"""Layout / reading-order / OCR pipeline tests over the synthetic layout
corpus (closed-form oracles — see corpus/layout_synth.py docstring).

Mirrors the reference test model (tests/test_table_evaluator.py:286-292:
hand-built inputs with known metric identities), plus a distributed-vs-
single-node equivalence check for the corpus mAP aggregate.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from docling_eval_spark.corpus.layout_synth import (
    MASK_SIZE,
    gt_page,
    mode,
    n_boxes,
    pred_page,
)
from docling_eval_spark.functions.layout_metrics import (
    average_precision,
    image_map,
    mask_precision_recall_f1,
)


def expected_map(d: int) -> float:
    n, m = n_boxes(d), mode(d)
    if m == 0:
        return 1.0
    if m == 1:
        ap = (math.floor(100 * (n - 2) / (n - 1)) + 1) / 101
        return (1 + ap) / 2
    if m == 2:
        return 0.7
    raise ValueError(m)


class TestClosedForms:
    @pytest.mark.parametrize("d", range(24))
    def test_per_image_map(self, d):
        if mode(d) == 3:
            return
        gt_b, gt_l = gt_page(d)
        pr_b, pr_l, pr_s = pred_page(d)
        m = image_map(pr_b, pr_l, pr_s, gt_b, gt_l)
        assert m["map"] == pytest.approx(expected_map(d), abs=1e-12)

    @pytest.mark.parametrize("d", range(24))
    def test_mask_prf(self, d):
        n, md = n_boxes(d), mode(d)
        gt_b, _ = gt_page(d)
        pr_b, _, _ = pred_page(d)
        p, r, f1 = mask_precision_recall_f1(
            gt_b, pr_b, mask_width=MASK_SIZE, mask_height=MASK_SIZE)
        if md in (0, 3):
            assert (p, r, f1) == (1.0, 1.0, 1.0)
        elif md == 1:
            assert p == 1.0
            assert r == pytest.approx((n - 1) / n, abs=1e-12)
            assert f1 == pytest.approx(2 * (n - 1) / (2 * n - 1), abs=1e-12)
        else:
            assert (p, r, f1) == (0.9, 0.9, 0.9)


class TestSparkPipelines:
    def test_per_image_metrics(self, spark, sf_dir):
        from docling_eval_spark.plans.layout_eval import per_image_metrics

        rows = per_image_metrics(spark, sf_dir, modes=(0, 1, 2)).collect()
        assert len(rows) > 0
        for row in rows:
            assert row["map"] == pytest.approx(expected_map(row["doc_id"]), abs=1e-9)
            assert row["mode"] != 3

    def test_corpus_map_matches_pooled_singlenode(self, spark, sf_dir):
        """Distributed partial+final == single-node pooled COCO AP."""
        from docling_eval_spark.plans.layout_eval import corpus_map
        from docling_eval_spark.functions.layout_metrics import match_detections

        got = corpus_map(spark, sf_dir, modes=(0, 1)).collect()[0]

        import pyarrow.parquet as pq
        doc_ids = pq.read_table(f"{sf_dir}/documents.parquet",
                                columns=["doc_id"]).column(0).to_pylist()
        doc_ids = [d for d in doc_ids if d % 4 in (0, 1)]
        per_class: dict[str, dict] = {}
        for d in doc_ids:
            gt_b, gt_l = gt_page(d)
            pr_b, pr_l, pr_s = pred_page(d)
            for c in np.unique(gt_l):
                e = per_class.setdefault(c, {"scores": [], "tp": [], "n_gt": 0})
                e["n_gt"] += int((gt_l == c).sum())
                pmask = pr_l == c
                tp = match_detections(pr_b[pmask], pr_s[pmask], gt_b[gt_l == c])
                e["scores"].extend(pr_s[pmask].tolist())
                e["tp"].extend(tp[0].tolist())  # threshold .5; boxes exact
        aps = [average_precision(np.array(e["scores"]), np.array(e["tp"]),
                                 e["n_gt"]) for e in per_class.values()]
        assert got["map_50"] == pytest.approx(float(np.mean(aps)), abs=1e-6)
        assert got["map"] == got["map_50"]  # identical boxes: same at all thr

    def test_reading_order_closed_form(self, spark, sf_dir):
        from docling_eval_spark.plans.reading_order_eval import (
            reading_order_rollup,
            reading_order_scores,
        )

        scores = reading_order_scores(spark, sf_dir)
        for row in scores.collect():
            n, md = row["n_boxes"], row["mode"]
            if md == 3:
                assert row["ard_norm"] == pytest.approx(1 - 2 / n**2, abs=1e-12)
                assert row["w_ard_norm"] == pytest.approx(1 - 2 / n**3, abs=1e-12)
            else:
                assert row["ard_norm"] == 1.0
        roll = reading_order_rollup(scores).collect()[0]
        assert roll["ard_mean"] > 0.9

    def test_ocr_cer(self, spark, sf_dir):
        from docling_eval_spark.plans.ocr_eval import ocr_scores

        df = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", F.length("text").alias("len"))
        )
        lens = {r["doc_id"]: r["len"] for r in df.collect()}
        for row in ocr_scores(spark, sf_dir).collect():
            expect = 0.0 if row["mode"] == 0 else 1.0 / lens[row["doc_id"]]
            assert row["cer"] == pytest.approx(expect, abs=1e-12)


class TestBinnedAPEquivalence:
    """The distributed score-binned AP must match the exact sorted-list AP
    whenever scores are distinct at bin resolution (varied-score regime —
    the corpus queries only exercise the all-ties case)."""

    def test_varied_scores_match_exact(self, spark):
        import numpy as np
        import pandas as pd

        from docling_eval_spark.functions.layout_metrics import average_precision
        from docling_eval_spark.operators.layout_agg import corpus_map_from_partials

        rng = np.random.RandomState(7)
        n = 400
        # genuinely DISTINCT scores (uniform spacing, 4-decimal exact):
        # colliding scores share a bin and the binned AP evaluates them as
        # a group — that deliberate tie semantics is NOT what this test
        # pins; equality with the exact sorted AP requires distinctness
        scores = np.round(np.linspace(0.05, 0.95, n), 4)
        rng.shuffle(scores)
        tp = rng.rand(n) < (0.2 + 0.6 * scores)  # better scores more likely TP
        n_gt = int(tp.sum()) + 37

        exact = average_precision(scores, tp, n_gt)

        dets = spark.createDataFrame(pd.DataFrame({
            "label": ["text"] * n,
            "score": scores.astype(float),
            "tp": [[bool(x)] * 10 for x in tp],
        }))
        gts = spark.createDataFrame(pd.DataFrame({
            "label": ["text"], "n_gt": [n_gt]}))
        got = corpus_map_from_partials(dets, gts).collect()[0]
        assert got["map"] == got["map_50"] == round(exact, 6)


class TestOneAggregatePass:
    """Corpus mAP is one matching stage, one partial aggregate and a
    driver final: no persisted partials, no second Python stage."""

    def test_corpus_map_runs_few_jobs(self, spark, sf_dir):
        from docling_eval_spark.plans.layout_eval import corpus_map

        sc = spark.sparkContext
        group = "test-corpus-map-jobs"
        sc.setJobGroup(group, group)
        try:
            m = corpus_map(spark, sf_dir, modes=(0, 1))
            m.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
        # the returned row is literals, not a plan over the partials
        assert "InPandas" not in m._jdf.queryExecution().executedPlan().toString()

    def test_partials_feed_one_aggregate(self, spark, sf_dir):
        from docling_eval_spark.operators.layout_agg import binned_pr_counts
        from docling_eval_spark.plans.layout_eval import layout_partials

        bins = binned_pr_counts(layout_partials(spark, sf_dir))
        plan = bins._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "FlatMapGroupsInPandas" not in plan
        assert "InMemoryRelation" not in plan
