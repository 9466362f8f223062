"""Rejection counters, timings rollup, consolidation pivot, KV-graph
classification, JSON sink (SURVEY.md §2.4 A3/A9/A11, §2.8 F18, §2.1 S8)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


class TestReportOps:
    def test_rejection_reasons_partition_all_docs(self, spark, sf_dir):
        from docling_eval_spark.plans.report import (
            docs_table,
            rejection_summary,
            with_synthetic_status,
        )

        docs = with_synthetic_status(docs_table(spark, sf_dir))
        n = docs.count()
        rows = {r["reason"]: r["n"] for r in rejection_summary(docs).collect()}
        assert sum(rows.values()) == n
        assert set(rows) == {"accepted", "invalid_conversion_status",
                             "missing_prediction"}
        # status gate wins over missing-pred (reference check order):
        # doc_id 0 is both % 11 == 0 and % 13 == 0
        assert rows["invalid_conversion_status"] == docs.where(
            F.col("doc_id") % 11 == 0).count()

    def test_timings_rollup_no_python_stage(self, spark, sf_dir):
        from docling_eval_spark.plans.report import (
            docs_table,
            timings_rollup,
            with_synthetic_timings,
        )

        out = timings_rollup(with_synthetic_timings(docs_table(spark, sf_dir)))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan  # map explode + HOF agg stay JVM-side
        rows = {r["stage"]: r for r in out.collect()}
        assert set(rows) == {"tokenize", "classify", "assemble"}
        # stage list is [t, t/2] -> per-doc total 1.5t
        some = rows["tokenize"]
        assert some["total_sec"] > 0 and some["mean_sec"] > 0

    def test_consolidation_pivot_row_sums(self, spark, sf_dir):
        from docling_eval_spark.plans.report import consolidation_pivot, docs_table

        docs = docs_table(spark, sf_dir)
        piv = consolidation_pivot(docs).collect()
        total = sum(sum(r[l] for l in ("de", "en", "es", "fr", "zh"))
                    for r in piv)
        assert total == docs.count()

    def test_kv_graph_chain_labels(self, spark):
        from docling_eval_spark.functions.kv_graph import chain_graph, classify_kv_cells

        df = spark.range(3, 6).select(F.col("id").cast("int").alias("n"))
        cells, links = chain_graph(F.col("n"))
        out = df.select("n", classify_kv_cells(cells, links).alias("lab")).collect()
        for row in out:
            labels = [c["label"] for c in row["lab"]]
            n = row["n"]
            expect = ["KEY"] + ["UNSPECIFIED"] * (n - 3) + ["KEY", "VALUE"]
            assert labels == expect, (n, labels)

    def test_json_sink(self, spark, sf_dir, tmp_path):
        from docling_eval_spark.plans.report import write_evaluation_json

        p = str(tmp_path / "evaluation_test_markdown.json")
        write_evaluation_json({"mean_bleu": 1.0, "total": 500}, p,
                              benchmark="synthetic", modality="markdown")
        doc = json.loads(open(p).read())
        assert doc["evaluation"]["total"] == 500
        assert doc["modality"] == "markdown"


class TestVisualizeSink:
    def test_side_by_side_pages(self, spark, sf_dir, tmp_path):
        from docling_eval_spark.corpus.generator import pages_from_documents
        from docling_eval_spark.extraction.extract import extract_pages
        from docling_eval_spark.plans.pipeline import score_extractions
        from docling_eval_spark.plans.visualize import visualize_sample

        # the span feature table needs extract_pages' provenance columns
        scored = score_extractions(extract_pages(
            pages_from_documents(spark, sf_dir, n_partitions=4)), full_metrics=False)
        paths = visualize_sample(scored, str(tmp_path / "viz"), n=3)
        assert len(paths) == 3
        body = open(paths[0]).read()
        assert "byte_identical: True" in body
        assert "ground truth" in body and "extracted" in body
        assert "<table>" in body  # span feature table rendered


class TestSvgOverlay:
    def test_layout_overlay_html(self, spark, tmp_path):
        from docling_eval_spark.plans.visualize import (
            svg_overlay,
            visualize_layout_sample,
        )

        svg = svg_overlay(200.0, 100.0, [
            {"label": "table", "l": 10.0, "t": 20.0, "r": 60.0, "b": 80.0,
             "score": 0.87},
            {"label": "unknown_label", "l": 0, "t": 0, "r": 5, "b": 5},
        ])
        assert 'viewBox="0 0 200 100"' in svg
        assert '<rect x="10" y="20" width="50" height="60"' in svg
        assert "table 0.87" in svg  # score drawn in the legend text
        assert svg.count("<rect") == 2

        rows = [(1, 200.0, 100.0,
                 [("title", 1.0, 2.0, 50.0, 10.0, None)],
                 [("title", 1.5, 2.5, 49.0, 11.0, 0.9)])]
        schema = ("doc_id bigint, page_width double, page_height double, "
                  "gt_boxes array<struct<label:string,l:double,t:double,"
                  "r:double,b:double,score:double>>, "
                  "pred_boxes array<struct<label:string,l:double,t:double,"
                  "r:double,b:double,score:double>>")
        df = spark.createDataFrame(rows, schema)
        paths = visualize_layout_sample(df, str(tmp_path))
        assert len(paths) == 1
        content = open(paths[0]).read()
        # both panels present, with box coordinates and labels
        assert content.count("<svg") == 2
        assert '<rect x="1" y="2"' in content
        assert '<rect x="1.5" y="2.5"' in content
        assert "title 0.90" in content


class TestRasterOverlay:
    def test_overlay_pixels_roundtrip(self):
        """Verdict-pinned: encode a synthetic page, overlay boxes,
        decode, and assert the box-edge pixels carry the label color
        while the interior is untouched."""
        import numpy as np

        from docling_eval_spark.functions.png_codec import (
            decode_png, encode_png)
        from docling_eval_spark.plans.visualize import (
            _LABEL_COLORS, _hex_rgb, raster_overlay)

        page = np.full((60, 80, 3), 200, dtype=np.uint8)
        png = encode_png(page)
        out = raster_overlay(png, [
            {"label": "table", "l": 10, "t": 12, "r": 40, "b": 30},
        ], thickness=2)
        arr = decode_png(out)
        color = _hex_rgb(_LABEL_COLORS["table"])
        # edges painted
        assert tuple(arr[12, 25]) == color      # top edge
        assert tuple(arr[30, 25]) == color      # bottom edge
        assert tuple(arr[20, 10]) == color      # left edge
        assert tuple(arr[20, 40]) == color      # right edge
        # interior and exterior untouched
        assert tuple(arr[20, 25]) == (200, 200, 200)
        assert tuple(arr[5, 5]) == (200, 200, 200)

    def test_overlay_clips_and_promotes_gray(self):
        import numpy as np

        from docling_eval_spark.functions.png_codec import (
            decode_png, encode_png)
        from docling_eval_spark.plans.visualize import raster_overlay

        gray = np.full((20, 20), 255, dtype=np.uint8)
        out = raster_overlay(encode_png(gray), [
            {"label": None, "l": -5, "t": -5, "r": 100, "b": 100},
        ])
        arr = decode_png(out)
        assert arr.shape == (20, 20, 3)
        assert tuple(arr[0, 0]) != (255, 255, 255)   # clipped edge drawn

    def test_visualize_layout_raster_writes_pages(self, spark, tmp_path):
        import numpy as np

        from docling_eval_spark.functions.png_codec import decode_png
        from docling_eval_spark.plans.visualize import (
            _LABEL_COLORS, _hex_rgb, visualize_layout_raster)

        rows = [(1, 100.0, 50.0,
                 [("title", 5.0, 5.0, 40.0, 20.0, None)],
                 [("table", 6.0, 6.0, 41.0, 21.0, 0.9)])]
        schema = ("doc_id bigint, page_width double, page_height double, "
                  "gt_boxes array<struct<label:string,l:double,t:double,"
                  "r:double,b:double,score:double>>, "
                  "pred_boxes array<struct<label:string,l:double,t:double,"
                  "r:double,b:double,score:double>>")
        df = spark.createDataFrame(rows, schema)
        paths = visualize_layout_raster(df, str(tmp_path / "raster"))
        assert len(paths) == 1 and paths[0].endswith("layout_1.png")
        arr = decode_png(open(paths[0], "rb").read())
        # gt half + 2px separator + pred half
        assert arr.shape == (50, 202, 3)
        assert tuple(arr[5, 20]) == _hex_rgb(_LABEL_COLORS["title"])
        assert tuple(arr[6, 102 + 20]) == _hex_rgb(_LABEL_COLORS["table"])
        assert tuple(arr[25, 100]) == (0, 0, 0)  # separator column
        assert np.all(arr[40, :50] == 255)       # page stays white
