"""Spark stage: documents table -> Common-Crawl-style `pages` table.

Arrow-batched mapInPandas (one Python call per batch; pure-function HTML
synthesis inside). The resulting DataFrame has exactly the BASELINE.json
input_hint schema:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string
plus doc_id for test joins.

At 100 TB scale this stage is write-once: pages land in an Iceberg/parquet
table partitioned by bucket(url) and the extraction job reads that; here the
generator feeds the pipeline directly so tests and bench are hermetic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import salted_repartition
from ..sources.tables import read_documents
from .html_synth import synth_html, url_for, warc_ts_for

PAGES_SCHEMA = (
    "doc_id bigint, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def _synth_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        ids = pdf["doc_id"].to_numpy()
        texts = pdf["text"].to_numpy()
        langs = pdf["lang"].to_numpy()
        yield pd.DataFrame({
            "doc_id": ids,
            "url": [url_for(int(i)) for i in ids],
            "warc_ts": [warc_ts_for(int(i)) for i in ids],
            "html": [synth_html(int(i), t, l) for i, t, l in zip(ids, texts, langs)],
            "text": texts,
            "lang": langs,
        })


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         n_partitions: int | None = None,
                         replicate: int = 1,
                         pages_stage: bool = True,
                         exclude: DataFrame | None = None,
                         observe: Observation | None = None) -> DataFrame:
    """Deterministic pages table from the driver's documents parquet.

    Column pruning matters: only (doc_id, text, lang) are read from parquet
    (ReadSchema shows 3 columns, not 5). The optional repartition salts the
    LIGHTWEIGHT rows (xxhash64 of doc_id+salt) so the downstream
    synth/extract stage is uniformly loaded without ever shuffling html
    blobs. `replicate` > 1 deterministically amplifies the corpus: each
    replica r gets doc_id' = doc_id * replicate + r (unique urls/html,
    same oracle text) — used by scaling benchmarks. `observe` counts the
    documents read (metric `rows`), before `exclude` drops any.
    """
    docs = read_documents(spark, sf_dir, ["doc_id", "text", "lang"])
    if observe is not None:
        docs = docs.observe(observe, F.count(F.lit(1)).alias("rows"))
    if exclude is not None:
        if replicate > 1:
            # committed ids live in the POST-replication id space; an
            # anti-join against source ids would both duplicate committed
            # rows and drop uncommitted ones — fail fast instead
            raise ValueError("exclude is not supported with replicate > 1")
        # resume pushdown: drop already-committed doc_ids BEFORE synthesis
        # so a restarted job skips the Python work, not just the write
        docs = docs.join(exclude.select("doc_id"), on="doc_id", how="left_anti")
    # Order matters for scaling: the source is one small parquet split, so
    # repartition the LIGHT rows first (single cheap shuffle), THEN explode
    # replicas inside each partition — amplification runs in parallel and
    # nothing heavy ever crosses an exchange.
    if n_partitions:
        docs = salted_repartition(docs, n_partitions, key="doc_id")
    if replicate > 1:
        docs = docs.select(
            "doc_id", "text", "lang",
            F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_r"),
        ).select(
            (F.col("doc_id") * replicate + F.col("_r")).alias("doc_id"),
            "text", "lang",
        )
    if not pages_stage:
        # light rows for callers that fuse synthesis into their own stage
        return docs
    return docs.mapInPandas(_synth_batches, schema=PAGES_SCHEMA)
