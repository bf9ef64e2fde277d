"""Driver-contract queries and DuckDB oracles.

Each entry exercises one operator row from SURVEY.md §2 on the driver's
synthetic tables (TESTDATA.md). GEDI shot semantics are exercised via a
*derived shot view* computed deterministically from ``lineitem`` with
integer-only arithmetic feeding single IEEE ops, so the PySpark plan and
the DuckDB oracle produce bit-identical values (FIXTURES.md §5 mapping).

Determinism rules used throughout (so order-insensitive value hashes
match):
- integer modulo / lpad / CASE for all categorical + flag columns;
- doubles only via a single division/addition of exact integers —
  identical expression trees → identical IEEE results in both engines;
- aggregates only over integer-valued doubles (exact sums) or counts /
  min / max; percentages as one division + round in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gedixr_spark.constants import ALL_BEAMS
from gedixr_spark.functions.scalar import (
    acq_time_from_filename,
    rh_percentile,
    shot_id_str,
)
from gedixr_spark.operators.filters import (
    beam_filter,
    bbox_filter,
    month_filter,
    quality_filter,
)
from gedixr_spark.operators.joins import merge_keyed, merge_products, spatial_join_aoi
from gedixr_spark.operators.raster import grid_aggregate
from gedixr_spark.operators.stats import filter_stats_per_file
from gedixr_spark.sources.vector import aoi_from_wkt

# ---------------------------------------------------------------------------
# Derived shot views (Spark + SQL twins)
# ---------------------------------------------------------------------------

_BEAM_SQL_LIST = "[" + ",".join(f"'{b}'" for b in ALL_BEAMS) + "]"

# L2A/L2B shot views from lineitem. sn = l_orderkey*10 + l_linenumber is
# unique per lineitem row (l_linenumber ∈ 1..7).
SHOTS_L2A_SQL = f"""
SELECT
  l_orderkey * 10 + l_linenumber AS shot_number,
  lpad(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), 18, '0') AS shot,
  list_extract({_BEAM_SQL_LIST}, CAST(l_linenumber % 8 AS INTEGER) + 1) AS beam,
  (l_partkey % 2000) / 100.0 - 10.0 AS longitude,
  40.0 + (l_orderkey % 1500) / 100.0 AS latitude,
  CAST((l_orderkey * 10 + l_linenumber) % 3000 AS DOUBLE) AS elev,
  CAST((l_orderkey * 10 + l_linenumber) % 3000 AS DOUBLE)
    + CAST((l_partkey % 400) - 200 AS DOUBLE) AS elev_dem_tdx,
  CASE WHEN (l_orderkey * 10 + l_linenumber) % 10 = 0 THEN 1 ELSE 0 END AS degrade_flag,
  CASE WHEN (l_orderkey * 10 + l_linenumber) % 7 = 0 THEN 0 ELSE 1 END AS quality_flag,
  0.85 + ((l_orderkey * 10 + l_linenumber) % 150) / 1000.0 AS sensitivity,
  CAST(l_linenumber % 7 AS INTEGER) AS num_detectedmodes,
  l_shipdate AS acq_time,
  CAST((l_orderkey * 10 + l_linenumber) % 6000 AS INTEGER) AS rh98
FROM lineitem
"""

SHOTS_L2B_SQL = f"""
SELECT
  l_orderkey * 10 + l_linenumber AS shot_number,
  lpad(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), 18, '0') AS shot,
  list_extract({_BEAM_SQL_LIST}, CAST(l_linenumber % 8 AS INTEGER) + 1) AS beam,
  (l_partkey % 2000) / 100.0 - 10.0 AS longitude,
  40.0 + (l_orderkey % 1500) / 100.0 AS latitude,
  CAST((l_orderkey * 10 + l_linenumber) % 3000 AS DOUBLE) AS elev,
  CAST((l_orderkey * 10 + l_linenumber) % 3000 AS DOUBLE)
    + CAST((l_partkey % 400) - 200 AS DOUBLE) AS elev_dem_tdx,
  CASE WHEN (l_orderkey * 10 + l_linenumber) % 10 = 0 THEN 1 ELSE 0 END AS degrade_flag,
  CASE WHEN (l_orderkey * 10 + l_linenumber) % 7 = 0 THEN 0 ELSE 1 END AS quality_flag,
  0.85 + ((l_orderkey * 10 + l_linenumber) % 150) / 1000.0 AS sensitivity,
  CAST(l_linenumber % 7 AS INTEGER) AS num_detectedmodes,
  l_shipdate AS acq_time,
  (l_partkey % 1000) / 1000.0 AS tcc,
  (l_suppkey % 400) / 100.0 AS fhd,
  (l_orderkey % 1000) / 100.0 AS pai,
  ((l_orderkey * 10 + l_linenumber) % 600) / 10.0 AS rh100
FROM lineitem
"""

QUALITY_SQL = (
    "quality_flag = 1 AND degrade_flag = 0 AND num_detectedmodes > 0 "
    "AND abs(elev - elev_dem_tdx) < 100"
)


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-row-group local files plan a 1-task scan; fan_out spreads
    # the shot-derivation expressions across cores (no-op at scale)
    from gedixr_spark.operators.skew import fan_out

    path = f"{sf_dir}/lineitem.parquet"
    return fan_out(spark.read.parquet(path), memo_key=path)


def _sn() -> F.Column:
    return F.col("l_orderkey") * 10 + F.col("l_linenumber")


def _shot_base() -> list[F.Column]:
    sn = _sn()
    beams = F.array(*[F.lit(b) for b in ALL_BEAMS])
    return [
        sn.alias("shot_number"),
        shot_id_str(sn).alias("shot"),
        F.element_at(beams, (F.col("l_linenumber") % 8).cast("int") + 1).alias("beam"),
        ((F.col("l_partkey") % 2000) / 100.0 - 10.0).alias("longitude"),
        (F.lit(40.0) + (F.col("l_orderkey") % 1500) / 100.0).alias("latitude"),
        (sn % 3000).cast("double").alias("elev"),
        ((sn % 3000).cast("double") + ((F.col("l_partkey") % 400) - 200).cast("double")).alias(
            "elev_dem_tdx"
        ),
        F.when(sn % 10 == 0, 1).otherwise(0).alias("degrade_flag"),
        F.when(sn % 7 == 0, 0).otherwise(1).alias("quality_flag"),
        (F.lit(0.85) + (sn % 150) / 1000.0).alias("sensitivity"),
        (F.col("l_linenumber") % 7).cast("int").alias("num_detectedmodes"),
        F.col("l_shipdate").alias("acq_time"),
    ]


def shots_l2a(spark: SparkSession, sf_dir: str) -> DataFrame:
    sn = _sn()
    return _lineitem(spark, sf_dir).select(
        *_shot_base(),
        (sn % 6000).cast("int").alias("rh98"),
    )


def shots_l2b(spark: SparkSession, sf_dir: str) -> DataFrame:
    sn = _sn()
    return _lineitem(spark, sf_dir).select(
        *_shot_base(),
        ((F.col("l_partkey") % 1000) / 1000.0).alias("tcc"),
        ((F.col("l_suppkey") % 400) / 100.0).alias("fhd"),
        ((F.col("l_orderkey") % 1000) / 100.0).alias("pai"),
        ((sn % 600) / 10.0).alias("rh100"),
    )


# AOI fixture: two overlapping rectangles, one disjoint, one triangle
# (exercises the general ray-casting path; oracle = half-plane algebra).
AOI_WKT = {
    "area_west": "POLYGON ((-8 41, -2 41, -2 52, -8 52, -8 41))",
    "area_east": "POLYGON ((1 43, 9 43, 9 51, 1 51, 1 43))",
    "area_far": "POLYGON ((120 -10, 130 -10, 130 0, 120 0, 120 -10))",
    "area_tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))",
}

# Half-plane test with the same boundary-inclusive 1e-9 tolerance the
# engine's even-odd ray-cast uses: shot coords are 2-decimal rationals, so
# a true cross product is exactly 0 (on the edge) or ≥ ~5e-3; only fp
# noise (~1e-13) lives in between and must not flip the verdict.
_TRI_SQL = (
    "6 * (latitude - 44) >= -1e-9 "
    "AND -3 * (latitude - 44) - 6 * (longitude - 6) >= -1e-9 "
    "AND -3 * (latitude - 50) + 6 * (longitude - 3) >= -1e-9"
)

_AOI_SQL_PRED = {
    "area_west": "longitude BETWEEN -8 AND -2 AND latitude BETWEEN 41 AND 52",
    "area_east": "longitude BETWEEN 1 AND 9 AND latitude BETWEEN 43 AND 51",
    "area_far": "longitude BETWEEN 120 AND 130 AND latitude BETWEEN -10 AND 0",
    "area_tri": f"longitude BETWEEN 0 AND 6 AND latitude BETWEEN 44 AND 50 AND {_TRI_SQL}",
}


# ---------------------------------------------------------------------------
# Queries (Spark side)
# ---------------------------------------------------------------------------

L2B_OUT = [
    "shot", "beam", "acq_time", "longitude", "latitude", "elev", "elev_dem_tdx",
    "sensitivity", "num_detectedmodes", "tcc", "fhd", "pai", "rh100",
]


def q_extract_l2b_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: default L2B extraction with quality filter (SURVEY §7.1;
    reference lifecycle §3.1 — extract → quality filter → shot table)."""
    return quality_filter(shots_l2b(spark, sf_dir)).select(*L2B_OUT)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 on the L2A view, flags dropped afterwards (extract.py:303-339)."""
    df = quality_filter(shots_l2a(spark, sf_dir))
    return df.select("shot", "elev", "elev_dem_tdx", "sensitivity", "num_detectedmodes", "rh98")


def q_month_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 both behaviors in one labeled union: inclusive month band
    [6, 8] plus the reversed-bounds swap (11, 2) → [2, 11]
    (extract.py:138-146, swap at 139-140)."""
    a = month_filter(shots_l2a(spark, sf_dir), 6, 8).select(
        F.lit("band_6_8").alias("band"), "shot", "acq_time"
    )
    b = month_filter(shots_l2a(spark, sf_dir), 11, 2).select(
        F.lit("swap_11_2").alias("band"), "shot", "acq_time"
    )
    return a.unionByName(b)


def q_beam_filter_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 'power' beam-group selection (extract.py:112-119)."""
    return beam_filter(shots_l2a(spark, sf_dir), "power").select("shot", "beam")


def q_scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3+X1+X2+P4 in one projection — the scalar-function surface:
    18-char zero-padded shot id (extract.py:290), rh-array percentile
    extraction with m→cm int (extract.py:281-286, array synthesized
    deterministically), granule-filename synthesis, 13-digit token
    regex extract, and %Y%j%H%M%S parse (extract.py:232-236)."""
    sn = _sn()
    df = _lineitem(spark, sf_dir).select(
        sn.alias("shot_number"),
        shot_id_str(sn).alias("shot"),
        F.transform(F.sequence(F.lit(0), F.lit(100)), lambda i: i * (sn % 50) / 1000.0).alias("rh"),
        F.concat(
            F.lit("GEDI02_B_"),
            F.date_format("l_shipdate", "yyyyDDDHHmmss"),
            F.lit("_O"),
            F.lpad((F.col("l_orderkey") % 100000).cast("string"), 5, "0"),
            F.lit("_V002.h5"),
        ).alias("file_name"),
    )
    return df.select(
        "shot_number",
        "shot",
        rh_percentile("rh", 98).alias("rh98_cm"),
        "file_name",
        acq_time_from_filename("file_name").alias("acq_time"),
    )


def q_bbox_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 axis-aligned case: bbox range predicates (pushdown-able)."""
    df = bbox_filter(shots_l2a(spark, sf_dir), -5.0, 42.0, 5.0, 50.0)
    return df.select("shot", "longitude", "latitude")


def q_spatial_join_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/F4: shot×AOI intersects-join replicating shots into every AOI
    they hit (extract.py:176-184); includes a non-rectangular AOI so
    the ray-casting path is oracle-checked. The same grid-indexed plan
    ``api.extract_data`` runs: the rectangles are decided by their bbox
    in the broadcast cell join, the triangle refines through the JVM
    even-odd expression over its edge array."""
    aois = aoi_from_wkt(spark, AOI_WKT)
    out = spatial_join_aoi(shots_l2a(spark, sf_dir), aois)
    return out.select("aoi_name", "shot", "longitude", "latitude")


# Holed + multi-part AOI fixture: exercises even-odd membership over
# interior rings and MULTIPOLYGON parts; the oracle is outer-bbox minus
# strict-interior-of-hole (hole boundary still intersects the polygon)
# and an OR of part bboxes.
AOI_HOLED_WKT = {
    "area_holed": (
        "POLYGON ((-8 41, -2 41, -2 52, -8 52, -8 41), "
        "(-6 44, -4 44, -4 48, -6 48, -6 44))"
    ),
    "area_multi": (
        "MULTIPOLYGON (((1 43, 4 43, 4 51, 1 51, 1 43)), "
        "((5 43, 9 43, 9 51, 5 51, 5 43)))"
    ),
}


def q_spatial_join_holed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 over holed / multi-part AOIs (reference handles these via
    geopandas explode, ancillary.py:148-153): interior rings exclude
    their strict interior, hole boundaries still count as inside, and
    MULTIPOLYGON parts OR together. Both AOIs refine through the JVM
    even-odd expression over their edge arrays (holes and parts are
    just more rings), so the multi-ring path keeps an oracle-checked
    row of its own."""
    aois = aoi_from_wkt(spark, AOI_HOLED_WKT)
    out = spatial_join_aoi(shots_l2a(spark, sf_dir), aois)
    return out.select("aoi_name", "shot", "longitude", "latitude")


def q_spatial_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 consolidation of the two spatial-join recorded rows (same
    schema; the aoi_name values are disjoint so the union stays
    self-labeling): the leg over the rect+triangle AOI set and the leg
    over holed/multi-part AOIs.
    SQL bodies reused verbatim. Freed slot funds triangle_count."""
    return q_spatial_join_aoi(spark, sf_dir).unionByName(
        q_spatial_join_holed(spark, sf_dir)
    )


def q_merge_l2a_l2b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 product merge on (shot, acq_time) with pandas-style suffixes
    on colliding non-key columns (xr.py:56-112), BOTH join modes in one
    labeled union: how='inner' and how='left' (unmatched L2B shots keep
    NULL L2A columns) over the identical wide projection — one registry
    slot, both semantics + the suffix collision driver-checked."""
    l2a = shots_l2a(spark, sf_dir).filter(F.col("shot_number") % 5 != 0).drop("shot_number")
    l2b = shots_l2b(spark, sf_dir).filter(F.col("shot_number") % 4 != 0).drop("shot_number")
    parts = []
    for how in ("inner", "left"):
        j = merge_products(
            l2b.select("shot", "acq_time", "sensitivity", "tcc", "fhd", "pai", "rh100"),
            l2a.select("shot", "acq_time", "sensitivity", "rh98"),
            how=how,
            on=("shot", "acq_time"),
        )
        parts.append(
            j.select(
                F.lit(how).alias("how"),
                "shot", "acq_time", "rh98", "tcc", "fhd", "pai", "rh100",
                "sensitivity_l2b", "sensitivity_l2a",
            )
        )
    return parts[0].unionByName(parts[1])


def q_merge_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: keyed (per-AOI) merge — J1 with aoi_name prepended to the join
    keys (xr.py:87-106)."""
    band = F.when(F.col("latitude") >= 47.5, "north").otherwise("south").alias("aoi_name")
    l2a = shots_l2a(spark, sf_dir).filter(F.col("shot_number") % 5 != 0).select(
        band, "shot", "acq_time", "rh98"
    )
    l2b = shots_l2b(spark, sf_dir).filter(F.col("shot_number") % 4 != 0).select(
        band, "shot", "acq_time", "pai"
    )
    return merge_keyed(l2b, l2a, on=("shot", "acq_time")).select(
        "aoi_name", "shot", "acq_time", "pai", "rh98"
    )


def q_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-granule quality-filter statistics (extract.py:334-338) —
    granule id synthesized as orderkey % 20."""
    df = shots_l2a(spark, sf_dir).withColumn(
        "source_file", (F.col("shot_number") % 20).cast("int")
    )
    return filter_stats_per_file(df)


def q_grid_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: rasterization as grid-cell aggregation at 0.3° with a fixed
    origin; deterministic avg/max over integer-valued measurements
    (xr.py:144-174, deviation documented in SURVEY §7.3)."""
    df = quality_filter(shots_l2a(spark, sf_dir))
    g = grid_aggregate(
        df, ["elev", "rh98"], resolution=(-0.3, 0.3), origin=(-10.0, 55.0), agg="avg"
    )
    return g.select("row", "col", "avg_elev", "avg_rh98", "n_shots")


def q_dataset_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: bbox of the shot set (total_bounds, download.py:232-233)."""
    return shots_l2a(spark, sf_dir).agg(
        F.min("longitude").alias("xmin"),
        F.min("latitude").alias("ymin"),
        F.max("longitude").alias("xmax"),
        F.max("latitude").alias("ymax"),
    )


def q_crs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10/P6: both built-in CRS transforms in one labeled union —
    EPSG:4326 → EPSG:3857 (spherical web mercator) and EPSG:4326 →
    UTM zone 32N (EPSG:32632, Krüger series) — all pure column math.
    Values rounded to whole meters in BOTH engines: JVM trig and
    libm/exp-emulated hyperbolics differ at the ulp level, and
    1 m ≫ that noise. Zone 32 is applied to every point (a fixed-zone
    parity check; per-point zone selection is geo.utm_zone)."""
    from gedixr_spark.geo import st_transform_4326_to_3857, st_transform_4326_to_utm

    df = shots_l2a(spark, sf_dir)
    x, y = st_transform_4326_to_3857(F.col("longitude"), F.col("latitude"))
    merc = df.select(
        F.lit("merc").alias("crs"),
        F.col("shot"),
        F.round(x, 0).cast("long").alias("x_m"),
        F.round(y, 0).cast("long").alias("y_m"),
    )
    e, n = st_transform_4326_to_utm(F.col("longitude"), F.col("latitude"), 32, True)
    utm = df.select(
        F.lit("utm32n").alias("crs"),
        F.col("shot"),
        F.round(e, 0).cast("long").alias("x_m"),
        F.round(n, 0).cast("long").alias("y_m"),
    )
    return merc.unionByName(utm)


def q_beam_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-beam profile: grouped exact percentiles (median/p95/
    quartiles — the sort-based aggregation surface SURVEY §2.5 notes
    Spark adds for free) AND exact distinct counts, in ONE groupBy so
    the whole profile costs a single shuffle. Exact `percentile`
    (linear interpolation) is bit-identical to DuckDB's quantile_cont
    on integer-valued inputs."""
    return shots_l2a(spark, sf_dir).groupBy("beam").agg(
        F.expr("percentile(elev, 0.5)").alias("elev_p50"),
        F.expr("percentile(elev, 0.95)").alias("elev_p95"),
        F.expr("percentile(rh98, 0.25)").alias("rh98_q1"),
        F.expr("percentile(rh98, 0.75)").alias("rh98_q3"),
        F.countDistinct("shot").alias("n_shots"),
        F.countDistinct(F.to_date("acq_time")).alias("n_days"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct count — the 100 TB cardinality tool.
    No oracle entry on purpose: DuckDB's approx algorithm differs, so
    the driver records the weaker rows-only check; q_beam_profile is
    the exact, fully-checked twin."""
    return shots_l2a(spark, sf_dir).groupBy("beam").agg(
        F.approx_count_distinct("shot").alias("approx_shots")
    )


def q_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole set-op surface in one labeled union (SURVEY §2.6: the
    reference has union only; except/intersect come free): even-shot
    rows minus multiple-of-3 rows, their intersection, and the A4
    cross-file union (pd.concat → unionByName) of two disjoint halves
    — every row of the union hash-checked, stronger than a per-beam
    count."""
    df = shots_l2a(spark, sf_dir)
    a = df.filter(F.col("shot_number") % 2 == 0).select("shot", "beam")
    b = df.filter(F.col("shot_number") % 3 == 0).select("shot", "beam")
    odd = df.filter(F.col("shot_number") % 2 == 1).select("shot", "beam")
    ex = a.exceptAll(b).select(F.lit("except").alias("op"), "shot", "beam")
    inter = a.intersectAll(b).select(F.lit("intersect").alias("op"), "shot", "beam")
    uni = a.unionByName(odd).select(F.lit("union").alias("op"), "shot", "beam")
    return ex.unionByName(inter).unionByName(uni)


# ---------------------------------------------------------------------------
# Oracles (DuckDB SQL)
# ---------------------------------------------------------------------------

_L2B_OUT_SQL = ", ".join(L2B_OUT)


def _utm32n_sql() -> str:
    """UTM zone 32N Krüger forward series as DuckDB CTE SQL, mirroring
    geo.st_transform_4326_to_utm with the SAME double literals (repr
    round-trips exactly). DuckDB 1.0 has no sinh/cosh/atanh, so they
    are emulated with exp/ln — ulp-level divergence from the JVM's
    Math.sinh, absorbed by the whole-meter rounding."""
    import math as _m

    from gedixr_spark import geo as _g

    lam0 = _m.radians(9.0)
    c = 2.0 * _m.sqrt(_g._N3) / (1.0 + _g._N3)
    k0a = _g._UTM_K0 * _g._TM_A
    e_terms = " + ".join(
        f"{a!r}*cos({2 * j}*xp)*(exp({2 * j}*ep)-exp(-{2 * j}*ep))/2"
        for j, a in enumerate(_g._TM_ALPHA, start=1)
    )
    n_terms = " + ".join(
        f"{a!r}*sin({2 * j}*xp)*(exp({2 * j}*ep)+exp(-{2 * j}*ep))/2"
        for j, a in enumerate(_g._TM_ALPHA, start=1)
    )
    return f"""
        u0 AS (
          SELECT shot, radians(latitude) AS phi,
                 radians(longitude) - {lam0!r} AS lam
          FROM shots
        ),
        u1 AS (
          SELECT shot, lam,
                 0.5*ln((1+sin(phi))/(1-sin(phi)))
                   - {c!r} * 0.5*ln((1+{c!r}*sin(phi))/(1-{c!r}*sin(phi))) AS q
          FROM u0
        ),
        u2 AS (SELECT shot, lam, (exp(q)-exp(-q))/2 AS t FROM u1),
        u3 AS (
          SELECT shot, atan2(t, cos(lam)) AS xp,
                 0.5*ln((1 + sin(lam)/sqrt(1+t*t))/(1 - sin(lam)/sqrt(1+t*t))) AS ep
          FROM u2
        ),
        utm AS (
          SELECT shot,
                 {_g._UTM_E0!r} + {k0a!r} * (ep + {e_terms}) AS easting,
                 {k0a!r} * (xp + {n_terms}) AS northing
          FROM u3
        )
    """

ORACLES: dict[str, str] = {
    "extract_l2b_default": f"""
        WITH shots AS ({SHOTS_L2B_SQL})
        SELECT {_L2B_OUT_SQL} FROM shots WHERE {QUALITY_SQL}
    """,
    "quality_filter": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT shot, elev, elev_dem_tdx, sensitivity, num_detectedmodes, rh98
        FROM shots WHERE {QUALITY_SQL}
    """,
    "month_filter": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT 'band_6_8' AS band, shot, acq_time FROM shots
        WHERE month(acq_time) BETWEEN 6 AND 8
        UNION ALL
        SELECT 'swap_11_2', shot, acq_time FROM shots
        WHERE month(acq_time) BETWEEN 2 AND 11
    """,
    "beam_filter_power": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT shot, beam FROM shots
        WHERE beam IN ('BEAM0101','BEAM0110','BEAM1000','BEAM1011')
    """,
    # DuckDB's strptime ignores %j on parse, so the oracle rebuilds the
    # timestamp from the 13-digit token explicitly (year + day-of-year).
    "scalar_surface": r"""
        WITH f AS (
          SELECT
            l_orderkey * 10 + l_linenumber AS shot_number,
            lpad(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), 18, '0') AS shot,
            CAST(round(98 * ((l_orderkey * 10 + l_linenumber) % 50) / 1000.0 * 100)
                 AS INTEGER) AS rh98_cm,
            concat('GEDI02_B_', strftime(l_shipdate, '%Y%j%H%M%S'), '_O',
                   lpad(CAST(l_orderkey % 100000 AS VARCHAR), 5, '0'), '_V002.h5')
              AS file_name
          FROM lineitem
        ),
        t AS (
          SELECT *, regexp_extract(file_name, '[AB]_(\d{13})', 1) AS tok FROM f
        )
        SELECT shot_number, shot, rh98_cm, file_name,
               make_timestamp(CAST(substr(tok, 1, 4) AS BIGINT), 1, 1,
                              CAST(substr(tok, 8, 2) AS BIGINT),
                              CAST(substr(tok, 10, 2) AS BIGINT),
                              CAST(substr(tok, 12, 2) AS DOUBLE))
                 + (CAST(substr(tok, 5, 3) AS INTEGER) - 1) * INTERVAL 1 DAY
                 AS acq_time
        FROM t
    """,
    "bbox_subset": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT shot, longitude, latitude FROM shots
        WHERE longitude BETWEEN -5.0 AND 5.0 AND latitude BETWEEN 42.0 AND 50.0
    """,
    "spatial_join_aoi": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT 'area_west' AS aoi_name, shot, longitude, latitude FROM shots
          WHERE {_AOI_SQL_PRED['area_west']}
        UNION ALL
        SELECT 'area_east', shot, longitude, latitude FROM shots
          WHERE {_AOI_SQL_PRED['area_east']}
        UNION ALL
        SELECT 'area_far', shot, longitude, latitude FROM shots
          WHERE {_AOI_SQL_PRED['area_far']}
        UNION ALL
        SELECT 'area_tri', shot, longitude, latitude FROM shots
          WHERE {_AOI_SQL_PRED['area_tri']}
    """,
    "spatial_join_holed": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT 'area_holed' AS aoi_name, shot, longitude, latitude FROM shots
          WHERE longitude BETWEEN -8 AND -2 AND latitude BETWEEN 41 AND 52
            AND NOT (longitude > -6 AND longitude < -4
                     AND latitude > 44 AND latitude < 48)
        UNION ALL
        SELECT 'area_multi', shot, longitude, latitude FROM shots
          WHERE (longitude BETWEEN 1 AND 4 AND latitude BETWEEN 43 AND 51)
             OR (longitude BETWEEN 5 AND 9 AND latitude BETWEEN 43 AND 51)
    """,
    "merge_l2a_l2b": f"""
        WITH l2a AS (
          SELECT shot, acq_time, sensitivity, rh98 FROM ({SHOTS_L2A_SQL})
          WHERE shot_number % 5 <> 0
        ),
        l2b AS (
          SELECT shot, acq_time, sensitivity, tcc, fhd, pai, rh100 FROM ({SHOTS_L2B_SQL})
          WHERE shot_number % 4 <> 0
        )
        SELECT 'inner' AS how, l2b.shot, l2b.acq_time, rh98, tcc, fhd, pai, rh100,
               l2b.sensitivity AS sensitivity_l2b, l2a.sensitivity AS sensitivity_l2a
        FROM l2b JOIN l2a ON l2b.shot = l2a.shot AND l2b.acq_time = l2a.acq_time
        UNION ALL
        SELECT 'left' AS how, l2b.shot, l2b.acq_time, rh98, tcc, fhd, pai, rh100,
               l2b.sensitivity AS sensitivity_l2b, l2a.sensitivity AS sensitivity_l2a
        FROM l2b LEFT JOIN l2a ON l2b.shot = l2a.shot AND l2b.acq_time = l2a.acq_time
    """,
    "merge_keyed": f"""
        WITH l2a AS (
          SELECT CASE WHEN latitude >= 47.5 THEN 'north' ELSE 'south' END AS aoi_name,
                 shot, acq_time, rh98
          FROM ({SHOTS_L2A_SQL}) WHERE shot_number % 5 <> 0
        ),
        l2b AS (
          SELECT CASE WHEN latitude >= 47.5 THEN 'north' ELSE 'south' END AS aoi_name,
                 shot, acq_time, pai
          FROM ({SHOTS_L2B_SQL}) WHERE shot_number % 4 <> 0
        )
        SELECT l2b.aoi_name, l2b.shot, l2b.acq_time, pai, rh98
        FROM l2b JOIN l2a
          ON l2b.aoi_name = l2a.aoi_name AND l2b.shot = l2a.shot
         AND l2b.acq_time = l2a.acq_time
    """,
    "filter_stats": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT CAST(shot_number % 20 AS INTEGER) AS source_file,
               count(*) AS total,
               CAST(sum(CASE WHEN {QUALITY_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS passed,
               count(*) - CAST(sum(CASE WHEN {QUALITY_SQL} THEN 1 ELSE 0 END) AS BIGINT)
                 AS filtered,
               round((count(*) - sum(CASE WHEN {QUALITY_SQL} THEN 1 ELSE 0 END))
                     * 100.0 / count(*), 2) AS pct_filtered
        FROM shots GROUP BY 1
    """,
    "grid_aggregate": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT CAST(floor((55.0 - latitude) / 0.3) AS BIGINT) AS row,
               CAST(floor((longitude - -10.0) / 0.3) AS BIGINT) AS col,
               avg(elev) AS avg_elev,
               avg(rh98) AS avg_rh98,
               count(*) AS n_shots
        FROM shots WHERE {QUALITY_SQL}
        GROUP BY 1, 2
    """,
    "dataset_bounds": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT min(longitude) AS xmin, min(latitude) AS ymin,
               max(longitude) AS xmax, max(latitude) AS ymax
        FROM shots
    """,
    "beam_profile": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT beam,
               quantile_cont(elev, 0.5) AS elev_p50,
               quantile_cont(elev, 0.95) AS elev_p95,
               quantile_cont(rh98, 0.25) AS rh98_q1,
               quantile_cont(rh98, 0.75) AS rh98_q3,
               count(DISTINCT shot) AS n_shots,
               count(DISTINCT CAST(acq_time AS DATE)) AS n_days
        FROM shots GROUP BY beam
    """,
    "crs_transform": f"""
        WITH shots AS ({SHOTS_L2A_SQL}),
        {_utm32n_sql()}
        SELECT 'merc' AS crs, shot,
               CAST(round(radians(longitude) * 6378137.0, 0) AS BIGINT) AS x_m,
               CAST(round(ln(tan(pi() / 4 + radians(latitude) / 2)) * 6378137.0, 0)
                    AS BIGINT) AS y_m
        FROM shots
        UNION ALL
        SELECT 'utm32n', shot,
               CAST(round(easting, 0) AS BIGINT),
               CAST(round(northing, 0) AS BIGINT)
        FROM utm
    """,
    "set_algebra": f"""
        WITH shots AS ({SHOTS_L2A_SQL})
        SELECT 'except' AS op, * FROM (
          SELECT shot, beam FROM shots WHERE shot_number % 2 = 0
          EXCEPT ALL
          SELECT shot, beam FROM shots WHERE shot_number % 3 = 0
        )
        UNION ALL
        SELECT 'intersect', * FROM (
          SELECT shot, beam FROM shots WHERE shot_number % 2 = 0
          INTERSECT ALL
          SELECT shot, beam FROM shots WHERE shot_number % 3 = 0
        )
        UNION ALL
        SELECT 'union', * FROM (
          SELECT shot, beam FROM shots WHERE shot_number % 2 = 0
          UNION ALL
          SELECT shot, beam FROM shots WHERE shot_number % 2 = 1
        )
    """,
}

# r8 consolidation: one recorded row for both spatial-join legs — the
# two oracle bodies union verbatim (aoi_name values are disjoint, so
# rows stay attributable); the freed slot records triangle_count.
ORACLES["spatial_joins"] = (
    "SELECT * FROM (" + ORACLES.pop("spatial_join_aoi") + ")\n"
    "UNION ALL\n"
    "SELECT * FROM (" + ORACLES.pop("spatial_join_holed") + ")"
)


def reference_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracle-backed reference-surface queries, highest-value first.
    The driver records CORRECTNESS rows for at most the first 50
    registry entries, so ordering is part of the contract: every
    oracle-backed query (here + contract_ext) must land inside that
    window; the two rows-only-by-design queries go LAST
    (``rows_only_queries``)."""
    return {
        "extract_l2b_default": q_extract_l2b_default,
        "quality_filter": q_quality_filter,
        "month_filter": q_month_filter,
        "beam_filter_power": q_beam_filter_power,
        "scalar_surface": q_scalar_surface,
        "bbox_subset": q_bbox_subset,
        # r8: the two same-schema spatial-join rows merged (legs
        # unchanged, oracle bodies reused verbatim); the freed slot
        # records triangle_count in contract_ext
        "spatial_joins": q_spatial_joins,
        "merge_l2a_l2b": q_merge_l2a_l2b,
        "merge_keyed": q_merge_keyed,
        "filter_stats": q_filter_stats,
        "grid_aggregate": q_grid_aggregate,
        "dataset_bounds": q_dataset_bounds,
        "crs_transform": q_crs_transform,
        "beam_profile": q_beam_profile,
        "set_algebra": q_set_algebra,
    }


def rows_only_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries that intentionally have NO SQL oracle (HLL algorithms
    differ across engines; k-means is iterative). Registered LAST so
    every hash-checked query stays inside the driver's 50-row
    CORRECTNESS window."""
    from gedixr_spark.contract_ext import (
        q_bpe_tokens,
        q_compression_gate,
        q_pagerank,
        q_distinct_rollup,
        q_kmeans_clusters,
        q_mixture_sample,
        q_profile_docs,
        q_semantic_dedup,
        q_bm25_search,
        q_bq_ann_topk,
        q_sq8_ann_topk,
        q_ivf_sq8_topk,
        q_contrastive_triplets,
        q_hybrid_search,
        q_weighted_sample,
        q_vector_index,
        q_catalog_snapshot,
        q_table_changes_feed,
        q_schema_evolution,
        q_quarantine_readmit,
        q_cdc_incremental_state,
        q_cdc_mirror,
        q_manifest_checkpoint,
    )

    return {
        "approx_distinct": q_approx_distinct,
        "kmeans_clusters": q_kmeans_clusters,
        # r5 additions — all genuinely iterative/multi-step (k-means,
        # driver merge loop, driver factor computation, carry plan
        # tracked for perf); pytest carries their correctness via
        # differential tests
        "semantic_dedup": q_semantic_dedup,
        "mixture_sample": q_mixture_sample,
        # asof_bucketed promoted to the recorded window in r8
        "bpe_tokens": q_bpe_tokens,
        # HLL binaries are engine-specific
        "distinct_rollup": q_distinct_rollup,
        # one-pass census: HLL++ distinct estimates engine-specific
        "profile_docs": q_profile_docs,
        # zlib float surface is library-specific; exact differential in pytest
        "compression_gate": q_compression_gate,
        # r6: iterative link analysis — numpy differential in pytest
        "pagerank": q_pagerank,
        # r7: BM25 float scoring is log/divide — numpy differential in
        # tests/test_bm25.py
        "bm25_search": q_bm25_search,
        # r7: SQ8 asymmetric scoring is float divide/sqrt — recall and
        # reconstruction bounds pinned in tests/test_sq8.py
        "sq8_ann_topk": q_sq8_ann_topk,
        "ivf_sq8_topk": q_ivf_sq8_topk,
        # r8: 1-bit binary quantization — Hamming shortlist membership
        # is engine-specific; packing/Hamming/recall pinned in test_bq
        "bq_ann_topk": q_bq_ann_topk,
        # r7: multi-step mining pipeline (pairs -> pool -> ranked
        # negatives); differential-pinned in tests/test_mining.py
        "contrastive_triplets": q_contrastive_triplets,
        # r7: RRF float fusion scores — exact python differential in
        # tests/test_hybrid_search.py
        "hybrid_search": q_hybrid_search,
        # r8: float -ln(u)/w scoring — engine-specific; pytest-pinned
        "weighted_sample": q_weighted_sample,
        # r8: multi-commit vector-index lifecycle (init/upsert/delete/
        # pruned search); flat-equivalence pinned in test_vectorstore
        "vector_index": q_vector_index,
        # r8: multi-table atomic publish lifecycle (multi-commit => rows-only)
        "catalog_snapshot": q_catalog_snapshot,
        # r11: row-level CDC feed lifecycle (multi-commit => rows-only;
        # per-op classification DuckDB-pinned in test_table_changes)
        "table_changes_feed": q_table_changes_feed,
        # r12: column-mapping rename/drop lifecycle (multi-commit =>
        # rows-only; randomized DuckDB ALTER TABLE replay pinned in
        # tests/test_column_mapping.py)
        "schema_evolution": q_schema_evolution,
        # r12: quarantine -> repair -> readmit lifecycle (multi-commit;
        # atomic release + vacuum pinned in test_quarantine_lifecycle)
        "quarantine_readmit": q_quarantine_readmit,
        # r12: merge-maintained CDC aggregate + exactly-once cursor
        # (multi-commit; differential + crash-replay pinned in
        # tests/test_cdc_cursor.py)
        "cdc_incremental_state": q_cdc_incremental_state,
        # r14: streaming change-feed mirror (multi-commit; batch-twin +
        # mid-crash exactly-once pinned in tests/test_streaming_cdc.py)
        "cdc_mirror": q_cdc_mirror,
        # r14: parquet checkpoint manifest lifecycle (multi-commit;
        # json/parquet twin equivalence pinned in
        # tests/test_parquet_checkpoint.py, 100k-file rehearsal SCALE §14)
        "manifest_checkpoint": q_manifest_checkpoint,
        # r7: bloom_join / heavy_hitters / term_search / edit_distance
        # were promoted into the recorded window (their results are
        # exact; the window made room via labeled-union consolidation)
    }
