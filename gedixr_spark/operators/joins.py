"""Join operators J1-J3 (SURVEY.md §2.4).

J1/J3 are hash equi-joins Catalyst already handles; the engine's value-add
is the pandas-merge *semantics* (suffixes, precondition checks). The
default keys are the reference's ``(shot, acq_time, geometry)``
(``DEFAULT_MERGE_ON``), so the point geometry struct is part of the join
key unless the caller passes ``on``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gedixr_spark.session import local_frame


class MergeError(ValueError):
    """Raised on the reference's merge precondition failures (xr.py:95-97,134-136)."""


DEFAULT_MERGE_ON = ("shot", "acq_time", "geometry")  # reference xr.py:58-59


def _apply_suffixes(
    l2b: DataFrame, l2a: DataFrame, on: Sequence[str], suffixes: tuple[str, str]
) -> tuple[DataFrame, DataFrame]:
    """pandas-merge suffix semantics: non-key columns that collide get
    ``suffixes[0]``/``suffixes[1]`` appended (reference xr.py:84-86 uses
    ``('_l2a','_l2b')`` with l2b as the left frame)."""
    overlap = (set(l2b.columns) & set(l2a.columns)) - set(on)
    for c in overlap:
        l2b = l2b.withColumnRenamed(c, c + suffixes[0])
        l2a = l2a.withColumnRenamed(c, c + suffixes[1])
    return l2b, l2a


def merge_products(
    l2b: DataFrame,
    l2a: DataFrame,
    how: str = "inner",
    on: Sequence[str] | None = None,
    suffixes: tuple[str, str] = ("_l2b", "_l2a"),
) -> DataFrame:
    """J1 — L2A⋈L2B product merge (reference ``merge_gdf``, xr.py:56-112).

    ``on`` defaults to the reference's ``['geometry','shot','acq_time']``
    minus any column absent from either side (a struct geometry is a
    legal Spark join key, so geometry-as-key semantics survive). ``how``
    maps 1:1 to Spark join types. The reference's equal-row-count
    warning (xr.py:137-141) is available separately via
    ``check_merge_counts`` — it costs two counts, so it's opt-in at scale.

    INTENTIONAL naming divergence from the reference: its
    ``l2b.merge(l2a, suffixes=('_l2a','_l2b'))`` (xr.py:84-86) attaches
    ``_l2a`` to the LEFT frame's columns — i.e. L2B columns come out
    named ``*_l2a`` (an upstream suffix-order slip). The default here,
    ``suffixes=('_l2b','_l2a')``, labels each column by the product it
    came from. To reproduce reference-compatible column names
    byte-for-byte (e.g. when diffing against checkpoints the reference
    wrote), pass ``suffixes=('_l2a','_l2b')``.
    """
    on = [c for c in (on or DEFAULT_MERGE_ON) if c in l2b.columns and c in l2a.columns]
    if not on:
        raise MergeError("no common join keys between the two product tables")
    l2b, l2a = _apply_suffixes(l2b, l2a, on, suffixes)
    return l2b.join(l2a, on=list(on), how=how)


def check_merge_counts(l2b: DataFrame, l2a: DataFrame) -> bool:
    """The J1 row-count-equality warning (reference xr.py:137-141).
    Returns True when counts match; the caller decides whether to log."""
    return l2b.count() == l2a.count()


def merge_keyed(
    l2b: DataFrame,
    l2a: DataFrame,
    key_col: str = "aoi_name",
    how: str = "inner",
    on: Sequence[str] | None = None,
    suffixes: tuple[str, str] = ("_l2b", "_l2a"),
) -> DataFrame:
    """J3 — keyed (per-AOI) merge (reference xr.py:87-106).

    With AOIs materialized as a partition column, the reference's
    python-dict loop collapses into J1 with ``aoi_name`` prepended to
    the join keys. The reference's zero-overlapping-keys error
    (xr.py:95-97) is not raised here: the check is opt-in, a separate
    action the caller runs with `check_key_overlap`, as the J1 count
    check is with `check_merge_counts`.
    """
    on = list(on or [c for c in DEFAULT_MERGE_ON if c in l2b.columns and c in l2a.columns])
    if key_col not in on:
        on = [key_col] + on
    return merge_products(l2b, l2a, how=how, on=on, suffixes=suffixes)


def spatial_join_aoi(
    shots: DataFrame,
    aois: DataFrame,
    cell_deg: float = 1.0,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    name_col: str = "aoi_name",
    wkt_col: str = "geometry_wkt",
) -> DataFrame:
    """J2 — shot×AOI spatial join over ST_Intersects semantics
    (reference extract.py:176-184: per-AOI ``gdf[gdf.intersects(geo)]``,
    replicating a shot into every AOI it intersects). Returns the
    shots' columns followed by ``name_col``.

    The AOI table is small (named polygons, even at 10k AOIs), so it is
    collected once and compiled into a grid index:

      1. each AOI explodes into the grid cells its bbox covers;
      2. shots are prefiltered by the envelope of ALL AOIs and compute
         their (single) cell id — pure column math;
      3. equi-join on cell id (broadcast: the cell→AOI index is small)
         with the exact bbox check inside the join condition, pairing
         each shot with only the AOIs whose bbox holds it;
      4. refinement: a plain rectangle is decided by its bbox; every
         other AOI (holed, multi-part, rectilinear or general) refines
         through the JVM even-odd expression `pip_edges_predicate` over
         its edge array.

    Per-shot work is O(AOIs overlapping its cell), not O(all AOIs) —
    the same cell-index strategy a spatial engine's partitioned join
    uses, in plain DataFrame ops, with no Python boundary at any AOI
    count. Internal columns carry a ``__`` prefix so they cannot
    collide with the shots' own columns."""
    from gedixr_spark.geo import (
        EDGES_SQL_TYPE,
        is_rectangle,
        parse_wkt_rings,
        pip_edges_predicate,
        rings_bounds,
        rings_to_edge_tuples,
    )

    rows = aois.select(name_col, wkt_col).collect()
    if not rows:
        raise MergeError("empty AOI table")

    # 1. local cell index: (cell, aoi, bbox) rows, plus one edge
    # list per AOI that its bbox does not decide
    index_rows, edge_rows = [], []
    for r in rows:
        name, rings = r[name_col], parse_wkt_rings(r[wkt_col])
        xmin, ymin, xmax, ymax = rings_bounds(rings)
        if not (len(rings) == 1 and is_rectangle(rings[0])):
            edge_rows.append((name, rings_to_edge_tuples(rings)))
        for cx in range(math.floor(xmin / cell_deg), math.floor(xmax / cell_deg) + 1):
            for cy in range(math.floor(ymin / cell_deg), math.floor(ymax / cell_deg) + 1):
                index_rows.append((cx, cy, name, xmin, ymin, xmax, ymax))
    # both broadcast sides are local relations: broadcasting them runs
    # no Python worker
    spark = shots.sparkSession
    index = local_frame(
        spark,
        index_rows,
        "__cx int, __cy int, __aoi string, __xmin double, __ymin double, "
        "__xmax double, __ymax double",
    )

    # 2. global-envelope prefilter: ONE range predicate over the bbox
    # of ALL AOIs — unlike a per-AOI OR (which grows with AOI count)
    # this stays a 4-comparison predicate at any AOI count, reaches the
    # parquet scan as PushedFilters, and prunes row groups outside the
    # AOI universe entirely (at 100 TB that's most of the planet for
    # regional AOI sets)
    lon, lat = F.col(lon_col), F.col(lat_col)
    gx0 = min(r[3] for r in index_rows)
    gy0 = min(r[4] for r in index_rows)
    gx1 = max(r[5] for r in index_rows)
    gy1 = max(r[6] for r in index_rows)
    shots = shots.filter(lon.between(gx0, gx1) & lat.between(gy0, gy1))

    # 3. shot cell id + broadcast equi-join on the cell, with the
    # exact-bbox check INSIDE the join condition, so refinement only
    # ever sees bbox survivors
    with_cell = shots.withColumn(
        "__shot_cx", F.floor(lon / cell_deg).cast("int")
    ).withColumn("__shot_cy", F.floor(lat / cell_deg).cast("int"))
    refined = with_cell.join(
        F.broadcast(index),
        (F.col("__shot_cx") == F.col("__cx"))
        & (F.col("__shot_cy") == F.col("__cy"))
        & lon.between(F.col("__xmin"), F.col("__xmax"))
        & lat.between(F.col("__ymin"), F.col("__ymax")),
    )

    # 4. edge arrays ride a SECOND tiny broadcast keyed by AOI name —
    # ONE edge list per polygon, not one per covered cell, so a
    # continent-scale AOI at fine cell_deg keeps the index row width
    # independent of its cell count. Rows of plain rectangles get NULL
    # edges from the left join and pass through.
    if edge_rows:
        edges = local_frame(spark, edge_rows, f"__aoi string, __edges {EDGES_SQL_TYPE}")
        refined = refined.join(F.broadcast(edges), "__aoi", "left").filter(
            F.col("__edges").isNull() | pip_edges_predicate(lon, lat, F.col("__edges"))
        )
    return refined.select(
        *[F.col(f"`{c}`") for c in shots.columns if c != name_col],
        F.col("__aoi").alias(name_col),
    )


#: kept so callers written against the former plan selector still import
spatial_join_aoi_auto = spatial_join_aoi


def check_key_overlap(l2b: DataFrame, l2a: DataFrame, key_col: str = "aoi_name") -> int:
    """The J3 precondition: error when the two keyed tables share zero
    keys (reference xr.py:95-97). Returns the overlap count."""
    n = (
        l2b.select(key_col).distinct().join(l2a.select(key_col).distinct(), key_col).count()
    )
    if n == 0:
        raise MergeError("no overlapping AOI keys between the two inputs")
    return n
