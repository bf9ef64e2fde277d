"""Projection operator P5 (SURVEY.md §2.2): point-geometry construction.

The declared projection (P1-P3) happens in the HDF5 reader
(`sources/hdf5.py`), the load-time ``acq_time`` cast (P7) in
`sources/shots.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gedixr_spark.geo import st_point


def with_geometry(
    df: DataFrame,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    out_col: str = "geometry",
    drop_coords: bool = True,
) -> DataFrame:
    """P5 — point-geometry construction, the reference's slowest line
    (row-wise ``.apply`` at extract.py:166-168). Here it's a zero-copy
    ``struct<x,y>`` built from column expressions (WKB only at the
    sink boundary); drops the raw coordinate columns to match
    extract.py:169."""
    out = df.withColumn(out_col, st_point(F.col(lon_col), F.col(lat_col)))
    if drop_coords:
        out = out.drop(lon_col, lat_col)
    return out
