"""Binary payload columns: opaque bytes + typed metadata.

The reference carries page/picture images as PIL sequences inside dataset
rows (docling_eval/datamodels/dataset_record.py:38-43, utils/utils.py:
271-312 base64 encode/decode + crop) and branches PDF against image by
mime. Here the payload is a `binary` column that the JVM never parses,
and its metadata (mime, n_bytes, sha256) is a typed struct computed with
native expressions only. PNG pixels decode with functions/png_codec.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# magic-byte prefixes -> mime (native when/otherwise dispatch, SURVEY P8)
_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
]


def with_payload_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata struct from native expressions only (no Python):
    the mime comes from the magic-byte table, anything unrecognised is
    application/octet-stream."""
    p = F.col(payload_col)
    mime = F.lit("application/octet-stream")
    for prefix, m in reversed(_MAGIC):
        mime = F.when(
            F.hex(F.substring(p, 1, len(prefix)))
            == F.lit(prefix.hex().upper()),
            F.lit(m)).otherwise(mime)
    return df.withColumn(
        "payload_meta",
        F.struct(
            mime.alias("mime"),
            F.length(p).alias("n_bytes"),
            F.sha2(p, 256).alias("sha256"),
        ),
    )
