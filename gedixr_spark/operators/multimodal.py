"""Multimodal columns: an opaque binary payload plus typed metadata
(SURVEY.md §7.4). Image/audio libraries are NOT in this container, so
the payload is a deterministic fake, but its schema (binary column +
metadata struct) is the one a real ingest would produce.

At 100 TB the pattern is: payloads live in parquet binary columns (or
object-store URIs for > ~1 MB blobs); extracted features are small
typed columns that downstream relational ops join/filter without
touching bytes again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stand-in for real media bytes: payload = md5 digest
    bytes of the text; metadata struct carries the declared modality and
    synthetic dimensions. Schema-identical to what a real ingest would
    produce (binary + struct<media_type,width,height>)."""
    return df.select(
        "*",
        F.unhex(F.md5(F.col(text_col))).alias("payload"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            (F.length(text_col) % 640 + 1).alias("width"),
            (F.length(text_col) % 480 + 1).alias("height"),
        ).alias("media_meta"),
    )
