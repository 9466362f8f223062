"""The flagship job: extract main content from every page and score it
against the reference text (SURVEY.md §7 minimum end-to-end slice).

Stages (scan -> UDF -> column ops -> agg -> two sinks):
  1. pages (input_hint schema) — from the deterministic corpus generator
     or any parquet/Iceberg table with that schema.
  2. salted repartition: size-balanced over stored html blobs
     (operators/skew.py), or over the light (doc_id, text, lang) rows when
     html is synthesized.
  3. ONE extract+score mapInPandas (_extract_and_score): extraction
     (extraction/extract.py), then the markdown metric suite with an
     identity fast path (identical pair -> closed-form scores, no DP run),
     in the same Python worker. It returns only the scored row; per-block
     spans and tables are extract_pages' (visualize, streaming), never built
     here. GT text rides along, so scoring never joins (the reference's
     co-located J1 pairing). byte_identical is a native column equality
     after it: the 100% gate is pure JVM.
  4. rollups: DatasetStatistics per metric (operators/stats_rollup.py)
     + per-partition lineage rows (operators/lineage.py), which the
     stage itself counts when given an accumulator.

Scoring parity: reference evaluators/markdown_text_evaluator.py:164-185
(per-doc metric dict), evaluators/stats.py:77-97 (dataset rollup).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark import Accumulator, TaskContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..corpus.generator import pages_from_documents
from ..corpus.html_synth import synth_html, url_for
from ..extraction.extract import extract_frame, extract_schema, page_input, stored_html
from ..functions.text_metrics import cer, score_text_pair, word_tokenize
from ..operators.skew import size_balanced_repartition

SCORE_FIELDS = ["bleu", "f1_score", "precision", "recall", "edit_distance", "meteor", "char_accuracy"]
_SCORE_SCHEMA = ", ".join(f"{f} double" for f in SCORE_FIELDS)

_IDENTITY_SCORES = {
    "bleu": 1.0, "f1_score": 1.0, "precision": 1.0, "recall": 1.0,
    "edit_distance": 0.0, "char_accuracy": 1.0,
}


def score_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Passthrough scorer: `pdf` (extraction rows) with the metric columns
    appended. GT and prediction are columns of the same row (the
    reference's co-located J1 pairing), so scoring never joins."""
    rows = []
    for pred, true in zip(pdf["extracted_text"], pdf["text"]):
        n_tok = len(word_tokenize(true)) if pred == true else 0
        # fast path only for non-degenerate identical pairs: with < 4
        # tokens the slow path's unsmoothed BLEU (and empty-token F1)
        # return 0.0, so shortcutting to 1.0 would make rollups differ
        # between identical and near-identical degenerate docs
        if pred == true and n_tok >= 4:
            m = dict(_IDENTITY_SCORES)
            # METEOR of identical token streams is 1 - gamma*(1/m)^beta,
            # not exactly 1 (same tokenizer as the slow path)
            m["meteor"] = 1.0 - 0.5 * (1.0 / n_tok) ** 3
        else:
            m = score_text_pair(pred, true)
            m["char_accuracy"] = 1.0 - min(1.0, cer(pred, true))
        rows.append([m[f] for f in SCORE_FIELDS])
    return pdf.assign(**{f: [r[i] for r in rows] for i, f in enumerate(SCORE_FIELDS)})


def score_extractions(extracted: DataFrame, full_metrics: bool = True) -> DataFrame:
    """Extraction rows (e.g. extract_pages', provenance included) ->
    per-doc scored rows (byte_identical + the metric suite). Unextracted
    pages go through extract_and_score instead."""
    if full_metrics:
        schema = StructType(extracted.schema.fields
                            + [StructField(f, DoubleType()) for f in SCORE_FIELDS])
        extracted = extracted.mapInPandas(lambda it: map(score_frame, it), schema=schema)
    # the 100% gate is a native column equality: pure JVM, no Python
    return extracted.withColumn("byte_identical", F.col("extracted_text") == F.col("text"))


def _extract_and_score(rows: DataFrame, html_source, full_metrics: bool,
                       counts: Accumulator | None = None) -> DataFrame:
    """The one extract+score operator, shared by stored and synthetic pages.

    `html_source(batch)` returns the batch's urls and html strings; the
    batch is extracted and, with `full_metrics`, scored in the same Python
    worker. Fusing matters twice at scale: (1) each chained mapInPandas is
    its own Python worker per task and re-crosses the Arrow boundary on
    every hop; fused, a task owns exactly one worker; (2) html never
    returns to the JVM, so the only Arrow traffic back is the scored row,
    never per-block spans or table html.

    With `counts` (operators/lineage.py `partition_counter`), each task
    that runs to the end of its partition also adds
    {partition_id: (n_rows, n_ok, n_reject)}, with ok and reject as the
    byte_identical column below says (a null on either side is neither):
    the lineage sidecar's rows, counted in the pass that writes the data.
    """
    schema = extract_schema(dict(rows.dtypes)["doc_id"])
    if full_metrics:
        schema += f", {_SCORE_SCHEMA}"

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_rows = n_ok = n_reject = 0
        for pdf in it:
            out = extract_frame(pdf, *html_source(pdf))
            if counts is not None:
                pred, true = out["extracted_text"], out["text"]
                known = pred.notna() & true.notna()
                same = known & (pred == true)
                n_rows += len(out)
                n_ok += int(same.sum())
                n_reject += int((known & ~same).sum())
            yield score_frame(out) if full_metrics else out
        if counts is not None:
            counts.add({TaskContext.get().partitionId():
                        (n_rows, n_ok, n_reject)})

    return rows.mapInPandas(run, schema=schema).withColumn(
        "byte_identical", F.col("extracted_text") == F.col("text"))


def extract_and_score(pages: DataFrame, n_partitions: int = 32,
                      full_metrics: bool = True,
                      counts: Accumulator | None = None) -> DataFrame:
    """Stored pages (see page_input) -> size-balanced repartition -> the
    extract+score operator over the stored html column."""
    balanced = size_balanced_repartition(page_input(pages), n_partitions)
    return _extract_and_score(balanced, stored_html, full_metrics, counts)


def _synth_source(pdf: pd.DataFrame):
    """Urls and html strings synthesized from light (doc_id, text, lang)
    rows, one page at a time, so a batch's html never exists at once."""
    ids = [int(i) for i in pdf["doc_id"]]
    return [url_for(i) for i in ids], (
        synth_html(i, t, l).decode("utf-8")
        for i, t, l in zip(ids, pdf["text"], pdf["lang"])
    )


def flagship(spark: SparkSession, sf_dir: str, n_partitions: int = 32,
             full_metrics: bool = True, replicate: int = 1,
             exclude: DataFrame | None = None,
             counts: Accumulator | None = None,
             observe: Observation | None = None) -> DataFrame:
    """documents parquet -> pages -> extract -> score. The entry() query.

    The same extract+score operator as extract_and_score, fed by html
    synthesized inside the worker instead of a stored html column. The
    salted repartition therefore runs on the LIGHTWEIGHT pre-synthesis
    rows (doc_id, text, lang), not on html blobs; on a real source table
    (blobs already materialized) extract_and_score's size-balanced salt
    is the blob-side equivalent. `replicate` deterministically amplifies
    the corpus (distinct doc_ids per replica) for scaling benchmarks.
    `exclude` and `observe` are pages_from_documents', `counts` the
    extract+score operator's.
    """
    docs = pages_from_documents(spark, sf_dir, n_partitions=n_partitions,
                                replicate=replicate, pages_stage=False,
                                exclude=exclude, observe=observe)
    return _extract_and_score(docs, _synth_source, full_metrics, counts)


def flagship_rollup(scored: DataFrame) -> DataFrame:
    """Dataset-level summary row (counts + means); the driver-facing sink."""
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("byte_identical").cast("long")).alias("n_byte_identical"),
        F.round(F.avg("edit_distance"), 6).alias("mean_edit_distance"),
        F.round(F.avg("bleu"), 6).alias("mean_bleu"),
        F.round(F.avg("f1_score"), 6).alias("mean_f1"),
        F.round(F.avg("char_accuracy"), 6).alias("mean_char_accuracy"),
    )
