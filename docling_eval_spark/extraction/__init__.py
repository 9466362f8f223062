"""From-scratch HTML main-content extraction.

Pipeline: html string -> one regex scan folded into block tuples
(html_tokenizer) -> text/link-density boilerplate classification over
those tuples (boilerplate) -> main text, plus span rows and table
subtrees where provenance is asked for (extract), exposed as an
Arrow-batched mapInPandas stage.

This is the rebuild of the reference's prediction-provider extension point
(docling_eval/prediction_providers/base_prediction_provider.py:110-126) —
the "scalar UDF" of the system — re-expressed as a vectorized Spark stage
per the north rule (no per-row Python on the hot path: one Python call per
Arrow batch, numpy/pure-C string ops inside).
"""
