"""Spark-level operators: skew handling, stats rollup, lineage, resume,
dedup, similarity search, text analysis, binary payload metadata."""
