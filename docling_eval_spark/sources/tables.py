"""Pages-table IO: the Iceberg-shaped read/write paths.

This sandbox ships no Iceberg runtime, so the concrete format is parquet;
both functions keep the exact contract an Iceberg deployment needs
(append-only writes, bucketed layout by url hash, explicit schema) so the
swap is `format("iceberg")` + `writeTo(...).append()` and nothing else.

The write distributes by bucket(url): co-locating url-keyed data makes
the resume anti-join (operators/resume.py) and any url-keyed join
storage-partitioned — shuffle-free — on Iceberg, and at minimum
consistently clustered on parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import salted_repartition

DOCUMENTS_SCHEMA_DDL = ("doc_id bigint, text string, lang string, "
                        "source string, n_chars bigint")


def read_documents(spark: SparkSession, sf_dir: str, cols: list[str],
                   n_partitions: int | None = None) -> DataFrame:
    """`<sf_dir>/documents.parquet` under its declared schema, pruned to
    `cols`. The declared schema spares Spark the footer read that infers
    one. With `n_partitions`, the rows are spread by hash(doc_id, salt)
    so the Python stage after the read is evenly loaded; these rows are
    light, so this is the cheap place to shuffle."""
    df = (spark.read.schema(DOCUMENTS_SCHEMA_DDL)
          .parquet(f"{sf_dir}/documents.parquet").select(*cols))
    return salted_repartition(df, n_partitions, key="doc_id") if n_partitions else df


def read_pages_table(spark: SparkSession, path: str,
                     columns: tuple[str, ...] | None = None) -> DataFrame:
    """Scan with explicit column pruning — never read `html` bytes unless
    the caller asks for them (SURVEY.md §4: the reference loads all
    columns including images for text-only scoring; pruning is the big
    free win)."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def write_pages_table(pages: DataFrame, path: str, n_buckets: int = 64,
                      mode: str = "append") -> None:
    """Append with bucket(url)-style clustering."""
    (
        pages.repartition(n_buckets, F.xxhash64("url"))
        .write.mode(mode).parquet(path)
    )
