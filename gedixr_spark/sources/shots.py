"""S5 — load previously extracted shot tables (SURVEY.md §2.1 S5).

The reference's ``load_to_gdf``/``_reader`` (xr.py:11-53) dispatches on
file suffix (.parquet/.gpkg) and re-casts ``acq_time``. Spark-side:
``spark.read.parquet`` with the timestamp cast; GeoPackage has no Spark
source in this env, so it's an import-gated driver-side conversion.

Hive partition columns (``aoi_name=…`` directories) are read as strings:
Spark's partition type inference would turn an AOI named ``0042`` into
the integer 42.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from gedixr_spark.operators.joins import MergeError, merge_products


def read_shots(
    spark: SparkSession,
    path: str,
    decode_geometry: bool = True,
    schema: StructType | None = None,
) -> DataFrame:
    """Suffix-dispatched reader (reference xr.py:44-53). A WKB binary
    ``geometry`` column (our GeoParquet sink format) is decoded back to
    the engine's struct<x,y> representation so write→read round-trips.

    ``schema`` is the schema of the frame ``write_geoparquet`` saved
    (geometry as the point struct): the read then infers nothing, and
    the columns come back in that order with those types. Without it,
    the schema is inferred and partition columns read as strings."""
    if path.endswith(".gpkg"):
        return _read_geopackage(spark, path)
    if schema is None:
        df = spark.read.parquet(path)
        parts = _partition_columns(df)
        if parts:
            schema = StructType(
                [StructField(f.name, StringType()) if f.name in parts else f for f in df.schema]
            )
    else:
        # the sink stores a point-struct geometry as WKB
        schema = StructType(
            [
                StructField(f.name, BinaryType())
                if f.name == "geometry" and isinstance(f.dataType, StructType)
                else f
                for f in schema
            ]
        )
    if schema is not None:
        # partition columns land last in a read; restore the order
        df = spark.read.schema(schema).parquet(path).select(
            *[F.col(f"`{c}`") for c in schema.names]
        )
    if "acq_time" in df.columns and dict(df.dtypes)["acq_time"] != "timestamp":
        df = df.withColumn("acq_time", F.to_timestamp("acq_time"))  # xr.py:40
    if decode_geometry and dict(df.dtypes).get("geometry") == "binary":
        from gedixr_spark.geo import wkb_to_point_struct

        df = df.withColumn("geometry", wkb_to_point_struct(F.col("geometry")))
    return df


def _partition_columns(df: DataFrame) -> set[str]:
    """The hive partition keys of a parquet read: the ``key=value``
    directories directly above its files (no job; the listing is the
    one the read already made)."""
    keys = set()
    for f in df.inputFiles():
        for seg in reversed(f.split("/")[:-1]):
            if "=" not in seg:
                break
            keys.add(unquote(seg.split("=", 1)[0]))
    return keys & set(df.columns)


def _read_geopackage(spark: SparkSession, path: str) -> DataFrame:
    """GeoPackage source via stdlib sqlite3 + GeoPackage-Binary parsing
    (sources/geopackage.py) — no fiona/geopandas needed. Driver-side
    read (gpkg inputs are AOI/export-sized, not bronze tables)."""
    from gedixr_spark.sources.geopackage import read_geopackage

    df = read_geopackage(spark, path)
    if "acq_time" in df.columns and dict(df.dtypes)["acq_time"] != "timestamp":
        df = df.withColumn("acq_time", F.to_timestamp("acq_time"))  # xr.py:40
    return df


def load_shots(
    spark: SparkSession,
    l2a: str | None = None,
    l2b: str | None = None,
    **merge_kwargs,
) -> DataFrame:
    """``load_to_gdf`` equivalent (reference xr.py:11-41): at least one
    input; when both are given, merge them (J1)."""
    if l2a is None and l2b is None:
        raise MergeError("provide at least one of l2a/l2b")  # xr.py:30-32
    if l2a is not None and l2b is not None:
        return merge_products(read_shots(spark, l2b), read_shots(spark, l2a), **merge_kwargs)
    return read_shots(spark, l2a or l2b)
