"""The extraction hot path: pages -> extracted text (+ per-block provenance).

Rebuild of the reference's create-eval stage
(docling_eval/prediction_providers/base_prediction_provider.py:308-417 —
per-record predict() loop with manual chunking) as ONE Arrow-batched
mapInPandas stage:

  - GT and prediction stay co-located in the same row (the reference's
    implicit join J1, SURVEY.md §2.3) — no shuffle join anywhere.
  - No per-row Python: one Python invocation per Arrow batch; the
    tokenizer/classifier are pure-python but operate on whole documents.
    `html` is MB-scale, so the repo's session (session.py DEFAULT_CONFS)
    caps Arrow batches small; jobs/extract_job.py does not build its
    session through it yet, so the job runs at Spark's default
    10,000-row batches.
  - Skew: callers salt-repartition first (operators/skew.py) because
    giant pages cluster by crawl host (north rule).

Rows keep the oracle `text` column alongside `extracted_text` so scoring
is a column-local comparison. extract_frame (EXTRACT_SCHEMA) is the kernel
of the extract+score stage and builds no provenance; extract_pages adds
PROVENANCE_SCHEMA — the span rows and table subtrees that visualize_sample
and streaming ingest read.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .boilerplate import extract_main_text, main_text

EXTRACT_SCHEMA = (
    "doc_id bigint, url string, lang string, text string, "
    "extracted_text string, n_blocks int, n_content int, n_boiler int"
)
PROVENANCE_SCHEMA = (
    "tables array<string>, spans array<struct<block_idx:int, tag:string, "
    "is_content:boolean, kind:string, n_chars:int, words:int, link_density:double>>"
)


def extract_schema(key_dtype: str = "bigint") -> str:
    """EXTRACT_SCHEMA with the doc_id dtype matched to the caller's key
    column — WARC-derived corpora use a 128-bit md5 hex STRING id (a
    64-bit id collides at 10^12 docs), synthetic corpora a bigint; a
    hardcoded bigint would Arrow-TypeError string keys in the executor."""
    return EXTRACT_SCHEMA.replace("doc_id bigint", f"doc_id {key_dtype}", 1)


def _frame(pdf: pd.DataFrame, urls, htmls, kernel, provenance=()) -> pd.DataFrame:
    rs = [kernel(h) for h in htmls]
    return pd.DataFrame({
        "doc_id": pdf["doc_id"], "url": list(urls),
        "lang": pdf["lang"], "text": pdf["text"],
        "extracted_text": [r["text"] for r in rs],
        **{k: [r[k] for r in rs]
           for k in ("n_blocks", "n_content", "n_boiler", *provenance)},
    })


def extract_frame(pdf: pd.DataFrame, urls, htmls) -> pd.DataFrame:
    """The per-batch kernel of the extract+score stage: the (doc_id, lang,
    text) rows of `pdf` with their urls and html strings -> EXTRACT_SCHEMA."""
    return _frame(pdf, urls, htmls, main_text)


def stored_html(pdf: pd.DataFrame):
    """Urls and decoded html strings of a batch of stored pages. A null
    page (bad upstream row) degrades to empty extraction instead of
    TypeError-killing the executor task."""
    return pdf["url"], (
        (b"" if h is None else bytes(h)).decode("utf-8", errors="replace")
        for h in pdf["html"])


def page_input(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> the columns
    extraction reads: (doc_id, url, lang, text, html).

    Fails fast at plan time when a required column is absent (a KeyError
    inside the executor UDF is much harder to diagnose); a missing doc_id
    is synthesized as -1.
    """
    required = ["url", "lang", "text", "html"]
    missing = [c for c in required if c not in pages.columns]
    if missing:
        raise ValueError(f"pages input is missing columns {missing}")
    if "doc_id" not in pages.columns:
        pages = pages.withColumn("doc_id", F.lit(-1).cast("bigint"))
    return pages.select("doc_id", *required)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages (see page_input) -> extraction rows with provenance
    (EXTRACT_SCHEMA + PROVENANCE_SCHEMA)."""
    pages = page_input(pages)
    return pages.mapInPandas(
        lambda it: (_frame(p, *stored_html(p), extract_main_text, ("tables", "spans"))
                    for p in it),
        schema=f"{extract_schema(dict(pages.dtypes)['doc_id'])}, {PROVENANCE_SCHEMA}",
    )
