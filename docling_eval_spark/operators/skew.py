"""Skew defusal for the extraction hot path.

Common-Crawl pages cluster by host, and a handful of hosts dominate
(Zipf). A scan partitioned by ingest order or url-prefix therefore gives
some tasks many multi-MB pages while others idle. The north rule demands
explicit salted repartitioning before the UDF stage.

Two strategies (composable):

  salted_repartition: hash(url, salt) round-robins rows uniformly across
    n partitions — breaks host clustering. O(1) per row, one shuffle.

  size_balanced_repartition: heavy pages (length(html) above a threshold)
    are spread by a finer salt so no partition receives more than a few of
    them — bounds per-task byte volume under heavy-tailed length(html)
    (SURVEY.md §7 hard part 3). At 1000-executor scale this is the
    difference between a 5-minute and a 3-hour straggler stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 0x5EED


def salted_repartition(df: DataFrame, n_partitions: int, key: str = "url",
                       salt: int = DEFAULT_SALT) -> DataFrame:
    """Uniform re-spread by hash(key, salt): defuses key clustering."""
    return df.repartition(n_partitions, F.xxhash64(F.col(key), F.lit(salt)))


def size_balanced_repartition(df: DataFrame, n_partitions: int,
                              bytes_col: str = "html",
                              heavy_threshold: int = 262_144,
                              salt: int = DEFAULT_SALT) -> DataFrame:
    """Spread rows so heavy blobs are salted across ALL partitions while
    light rows still pack densely.

    Heavy rows hash their html content with the salt — distinct blobs
    spread effectively round-robin; light rows hash by url. Single
    shuffle.
    """
    weight = F.when(
        F.length(F.col(bytes_col)) > heavy_threshold,
        F.xxhash64(F.col(bytes_col), F.lit(salt)),  # content hash: unique spread
    ).otherwise(F.xxhash64(F.col("url"), F.lit(salt)))
    return df.repartition(n_partitions, weight)
