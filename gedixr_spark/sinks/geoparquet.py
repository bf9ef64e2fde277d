"""S4 — GeoParquet sink (SURVEY.md §2.1 S4).

The reference writes one (Geo)Parquet file per run, optionally one per
AOI, named ``{now}_{product}_{flt}[_{aoi}].parquet``
(extract.py:196-220; docs/quality.md:35-41). Spark-first:

- geometry struct → WKB ``geometry`` column (Arrow-vectorized UDF) only
  at this boundary,
- per-AOI outputs → ``partitionBy('aoi_name')`` (one directory per AOI,
  parallel write, no driver loop),
- GeoParquet ``geo`` footer metadata can't be injected through Spark's
  parquet writer, so a driver-side pyarrow pass stamps it per file after
  the distributed write. pyarrow exposes no footer-only edit, so this IS
  an O(data) decode/re-encode per file (codec and row-group boundaries
  are preserved); at large scale prefer stamping in the same job that
  writes, or a distributed mapPartitions re-write.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gedixr_spark.geo import point_struct_to_wkb

GEO_META_TEMPLATE = {
    "version": "1.0.0",
    "primary_column": "geometry",
    "columns": {
        "geometry": {
            "encoding": "WKB",
            "geometry_types": ["Point"],
            "crs": None,  # null = OGC:CRS84 per GeoParquet spec (lon/lat, matching EPSG:4326 order here)
        }
    },
}


def output_name(product: str, filtered: bool, aoi: str | None = None, now: datetime | None = None) -> str:
    """Reference output naming ``{now}_{product}_{flt}[_{aoi}]``
    (extract.py:197-214, docs/quality.md:35-41)."""
    ts = (now or datetime.now(timezone.utc)).strftime("%Y%m%dT%H%M%S")
    flt = "QF" if filtered else "NF"
    parts = [ts, product, flt] + ([aoi] if aoi else [])
    return "_".join(parts)


def write_geoparquet(
    df: DataFrame,
    path: str | Path,
    geometry_col: str = "geometry",
    partition_by: str | None = None,
    mode: str = "error",
    zorder: bool = False,
    zorder_files: int | None = None,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
) -> str:
    """Distributed parquet write with WKB geometry + GeoParquet footer
    metadata stamped afterwards. ``partition_by='aoi_name'`` reproduces
    the reference's per-AOI outputs as hive partitions.

    ``zorder=True`` lays rows down along the Morton curve before the
    write (range-partition + in-partition sort on the interleaved
    lon/lat key, operators/layout.py): each output file becomes a
    compact spatial tile whose footer min/max prunes under later bbox/
    AOI scans — the write-once layout investment every downstream
    spatial query repays at 100 TB."""
    out = df
    has_struct_geom = geometry_col in df.columns and dict(df.dtypes)[
        geometry_col
    ].startswith("struct")
    if zorder:
        from gedixr_spark.operators.layout import zorder_index

        # the key source: explicit lon/lat columns, else the point
        # geometry struct (extract_data drops lat/lon before saving)
        if lon_col in out.columns and lat_col in out.columns:
            zcol = zorder_index(lon_col, lat_col)
        elif has_struct_geom:
            zcol = zorder_index(
                F.col(f"{geometry_col}.x"), F.col(f"{geometry_col}.y")
            )
        else:
            raise ValueError(
                "zorder=True needs lon/lat columns or a point-struct "
                f"geometry; have {out.columns}"
            )
        cols = [partition_by, "__z"] if partition_by else ["__z"]
        out = out.withColumn("__z", zcol)
        # explicit file count pins the tile granularity (AQE coalesces
        # an unpinned range shuffle of small data into one file)
        out = (
            out.repartitionByRange(zorder_files, *cols)
            if zorder_files
            else out.repartitionByRange(*cols)
        )
        out = out.sortWithinPartitions("__z").drop("__z")
    if has_struct_geom:
        out = out.withColumn(geometry_col, point_struct_to_wkb(F.col(geometry_col)))
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(str(path))
    if geometry_col in df.columns:
        _stamp_geo_metadata(Path(path))
    return str(path)


def _stamp_geo_metadata(root: Path) -> None:
    """Add the ``geo`` key to each parquet file's footer metadata.

    NOT metadata-only: pyarrow has no public footer-in-place edit, so
    each file is decoded and re-encoded. What IS preserved: the
    original compression codec, the row-group boundaries (each row
    group is read and re-written individually) and the INT96 timestamp
    encoding, so the Spark writer's physical layout survives the
    stamp."""
    import pyarrow.parquet as pq

    geo = json.dumps(GEO_META_TEMPLATE).encode()
    for f in root.rglob("*.parquet"):
        pf = pq.ParquetFile(f)
        meta_md = pf.metadata
        codec = (
            meta_md.row_group(0).column(0).compression.lower()
            if meta_md.num_row_groups
            else "snappy"
        )
        if codec == "uncompressed":
            codec = "none"
        schema_meta = dict(pf.schema_arrow.metadata or {})
        schema_meta[b"geo"] = geo
        schema = pf.schema_arrow.with_metadata(schema_meta)
        # keep Spark's timestamp encoding: Arrow decodes INT96 to
        # timestamp[ns], which would re-encode as INT64 nanoseconds —
        # a type Spark's parquet reader rejects
        int96 = any(
            meta_md.schema.column(i).physical_type == "INT96"
            for i in range(meta_md.num_columns)
        )
        groups = [pf.read_row_group(i) for i in range(meta_md.num_row_groups)]
        pf.close()
        with pq.ParquetWriter(
            f, schema, compression=codec,
            use_deprecated_int96_timestamps=int96,
        ) as w:
            for g in groups:
                w.write_table(g.replace_schema_metadata(schema_meta))
        # drop the now-stale Hadoop checksum sidecar or re-reads fail CRC
        crc = f.parent / f".{f.name}.crc"
        crc.unlink(missing_ok=True)
