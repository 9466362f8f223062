"""docling-eval-spark: a PySpark-native document extraction + evaluation engine.

A from-scratch rebuild (NOT a port) of the capabilities of wai25/docling-eval
(reference at /root/reference) on idiomatic PySpark: declarative DataFrame plans,
Arrow-batched pandas UDFs on the hot path, explicit skew handling, and
checkpoint/resume semantics designed for Common-Crawl-scale (10^12 docs) tables.

Layout:
    corpus/      deterministic synthetic page-corpus generation (oracle by construction)
    extraction/  HTML tokenizer -> block list -> boilerplate classifier -> main text
    functions/   pure metric kernels (edit distance, BLEU, METEOR, CER, TEDS, IoU/mAP, ARD)
    operators/   Spark-level operators (stats rollup, dedup, similarity, text analysis)
    plans/       end-to-end pipelines (extract+score), consolidation/reporting
    sources/     readers/writers (parquet splits, binary files, lineage sidecar)
    streaming/   batch-incremental resume (anti-join checkpointing)
"""

from . import zipstamp

__version__ = "0.1.0"

# Python workers import this package when they unpickle the first task's
# function; from then on Spark's per-task importlib.invalidate_caches()
# skips the zip archives that have not changed and freezes the heap the
# task starts with, so the worker's after-task gc.collect() walks only
# that task's objects (see zipstamp).
zipstamp.install()
