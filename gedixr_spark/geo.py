"""Minimal geospatial layer (no Sedona/shapely available in this env).

Representation choice: a point geometry is a ``struct<x:double, y:double>``
column. Unlike opaque WKB bytes, a struct
- is a valid shuffle/join key (the reference joins on geometry,
  xr.py:84-86),
- keeps coordinate access inside whole-stage codegen (no decode UDF on
  the hot path),
- converts to/from WKB only at the GeoParquet boundary via
  Arrow-vectorized pandas UDFs.

Spatial predicates: axis-aligned rectangles (the oracle-expressible
case, FIXTURES.md §3) compile to range predicates that push into the
scan; arbitrary polygons use a numpy ray-casting pandas UDF behind a
bbox prefilter — the same coarse-then-exact strategy the reference uses
(bbox at download, exact intersects at extraction; SURVEY §4).
"""

from __future__ import annotations

import math
import re
import struct as _struct

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    StructField,
    StructType,
)

POINT_FIELDS = ("x", "y")


def st_point(lon: Column, lat: Column) -> Column:
    """Point constructor (X8; reference extract.py:167 ``Point(x, y)``)."""
    return F.struct(lon.alias("x"), lat.alias("y"))


def st_x(geom: Column | str) -> Column:
    g = F.col(geom) if isinstance(geom, str) else geom
    return g.getField("x")


def st_y(geom: Column | str) -> Column:
    g = F.col(geom) if isinstance(geom, str) else geom
    return g.getField("y")


# --- WKB boundary (sink/source only; never in the relational hot path) ---

_WKB_POINT_LE = b"\x01\x01\x00\x00\x00"

# NB: these codec UDFs are closure FACTORIES, not module-level
# pandas_udfs — nested functions pickle by value, so they run on
# workers of any session, including ones without this repo on the
# worker PYTHONPATH (the driver's own session, bare clusters). Their
# bodies reference only stdlib/site-packages modules and literals.


def point_struct_to_wkb(geom: Column) -> Column:
    """struct<x,y> → little-endian WKB Point bytes (GeoParquet geometry)."""

    @pandas_udf(BinaryType())
    def _enc(g: pd.DataFrame) -> pd.Series:
        import struct as _s

        x = g["x"].to_numpy(dtype=np.float64)
        y = g["y"].to_numpy(dtype=np.float64)
        pack = _s.Struct("<dd").pack
        return pd.Series([b"\x01\x01\x00\x00\x00" + pack(a, b) for a, b in zip(x, y)])

    return _enc(geom)


_POINT_STRUCT = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]
)


def wkb_to_point_struct(wkb: Column) -> Column:
    """WKB Point bytes → struct<x,y> (the GeoParquet source boundary,
    inverse of point_struct_to_wkb). Honors the WKB byte-order byte
    (external writers may emit big-endian), tolerates nulls (→ null
    coords), and raises a clear error for non-Point geometry types —
    instead of silently mis-decoding."""

    @pandas_udf(_POINT_STRUCT)
    def _dec(w: pd.Series) -> pd.DataFrame:
        import struct as _s

        vals = w.to_numpy()
        # fast path: the homogeneous little-endian 21-byte points our
        # own sink writes
        if len(vals) and all(
            v is not None and len(v) == 21 and v[0] == 1 for v in vals
        ):
            buf = np.frombuffer(b"".join(vals), dtype=np.uint8)
            rec = buf.reshape(len(vals), 21)
            coords = rec[:, 5:].copy().view("<f8").reshape(len(vals), 2)
            return pd.DataFrame({"x": coords[:, 0], "y": coords[:, 1]})
        xs, ys = [], []
        for v in vals:
            if v is None:
                xs.append(None)
                ys.append(None)
                continue
            order = "<" if v[0] == 1 else ">"
            (gtype,) = _s.unpack_from(f"{order}I", v, 1)
            if gtype % 1000 != 1:
                raise ValueError(f"expected WKB Point, got geometry type {gtype}")
            x, y = _s.unpack_from(f"{order}dd", v, 5)
            xs.append(x)
            ys.append(y)
        return pd.DataFrame({"x": xs, "y": ys}, dtype="float64")

    return _dec(wkb)


def wkb_point_xy(wkb: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Decode little-endian WKB Point bytes to (x, y) arrays."""
    buf = np.frombuffer(b"".join(wkb.to_numpy()), dtype=np.uint8)
    rec = buf.reshape(len(wkb), 21)  # 1 byte order + 4 type + 16 coords
    coords = rec[:, 5:].copy().view(np.float64).reshape(len(wkb), 2)
    return coords[:, 0], coords[:, 1]


# --- CRS transforms (X10 / P6) ---------------------------------------------

_WGS84_R = 6378137.0  # WGS84 semi-major axis, the web-mercator sphere radius


_MERCATOR_MAX_LAT = 85.05112877980659  # atan(sinh(pi)) — the square-world bound


def st_transform_4326_to_3857(lon: Column, lat: Column, clamp: bool = True) -> tuple[Column, Column]:
    """EPSG:4326 → EPSG:3857 (web mercator), the spherical formulas
    (public: EPSG guidance note 7-2): x = R·λ, y = R·ln(tan(π/4+φ/2)).
    Pure column math — the common ST_Transform case without geo libs;
    other CRS pairs need pyproj and stay import-gated.

    ``clamp`` bounds latitude to ±85.0511° (the standard web-mercator
    valid range) so poles can't produce ±inf; GEDI data (±51.6°) never
    hits it."""
    if clamp:
        lat = F.greatest(F.lit(-_MERCATOR_MAX_LAT), F.least(F.lit(_MERCATOR_MAX_LAT), lat))
    x = F.radians(lon) * _WGS84_R
    y = F.log(F.tan(F.lit(math.pi / 4) + F.radians(lat) / 2)) * _WGS84_R
    return x, y


def st_transform_3857_to_4326(x: Column, y: Column) -> tuple[Column, Column]:
    """Inverse web mercator: λ = x/R, φ = 2·atan(exp(y/R)) − π/2."""
    lon = F.degrees(x / _WGS84_R)
    lat = F.degrees(F.atan(F.exp(y / _WGS84_R)) * 2 - F.lit(math.pi / 2))
    return lon, lat


# Transverse-Mercator (UTM) in pure column math — Krüger series in the
# third flattening n, the standard high-accuracy formulation (public:
# Karney 2011, "Transverse Mercator with an accuracy of a few
# nanometers"; identical series to proj's tmerc). Fourth-order terms
# give sub-millimeter accuracy within a UTM zone — far beyond GEDI's
# ~10 m geolocation error.
_WGS84_F = 1.0 / 298.257223563
_N3 = _WGS84_F / (2.0 - _WGS84_F)  # third flattening n
_TM_A = (_WGS84_R / (1 + _N3)) * (1 + _N3**2 / 4 + _N3**4 / 64)
_TM_ALPHA = (
    _N3 / 2 - 2 * _N3**2 / 3 + 5 * _N3**3 / 16 + 41 * _N3**4 / 180,
    13 * _N3**2 / 48 - 3 * _N3**3 / 5 + 557 * _N3**4 / 1440,
    61 * _N3**3 / 240 - 103 * _N3**4 / 140,
    49561 * _N3**4 / 161280,
)
_TM_BETA = (
    _N3 / 2 - 2 * _N3**2 / 3 + 37 * _N3**3 / 96 - 1 * _N3**4 / 360,
    _N3**2 / 48 + _N3**3 / 15 - 437 * _N3**4 / 1440,
    17 * _N3**3 / 480 - 37 * _N3**4 / 840,
    4397 * _N3**4 / 161280,
)
_TM_DELTA = (
    2 * _N3 - 2 * _N3**2 / 3 - 2 * _N3**3 + 116 * _N3**4 / 45,
    7 * _N3**2 / 3 - 8 * _N3**3 / 5 - 227 * _N3**4 / 45,
    56 * _N3**3 / 15 - 136 * _N3**4 / 35,
    4279 * _N3**4 / 630,
)
_UTM_K0 = 0.9996
_UTM_E0 = 500_000.0
_UTM_N0_SOUTH = 10_000_000.0


def utm_zone(lon: float) -> int:
    """UTM zone number for a longitude (degrees)."""
    return int((lon + 180.0) // 6.0) % 60 + 1


def st_transform_4326_to_utm(
    lon: Column, lat: Column, zone: int, north: bool = True
) -> tuple[Column, Column]:
    """EPSG:4326 → UTM zone ``zone`` (EPSG:326xx/327xx) easting/northing
    in pure column expressions (no pyproj): Krüger forward series.
    Whole-stage-codegen resident — sinh/cosh/atan/atanh are all Spark
    built-ins — so reprojection is a map-side projection at any scale,
    like the reference's geopandas to_crs (ancillary.py:146-147) but
    distributed."""
    lam0 = math.radians(zone * 6 - 183)
    phi = F.radians(lat)
    lam = F.radians(lon) - F.lit(lam0)
    sin_phi = F.sin(phi)
    e2rtn = 2.0 * math.sqrt(_N3) / (1.0 + _N3)
    t = F.sinh(
        F.atanh(sin_phi) - F.lit(e2rtn) * F.atanh(F.lit(e2rtn) * sin_phi)
    )
    xi_p = F.atan2(t, F.cos(lam))
    eta_p = F.atanh(F.sin(lam) / F.sqrt(1 + t * t))
    xi = xi_p
    eta = eta_p
    for j, a in enumerate(_TM_ALPHA, start=1):
        xi = xi + F.lit(a) * F.sin(2 * j * xi_p) * F.cosh(2 * j * eta_p)
        eta = eta + F.lit(a) * F.cos(2 * j * xi_p) * F.sinh(2 * j * eta_p)
    easting = F.lit(_UTM_E0) + F.lit(_UTM_K0 * _TM_A) * eta
    northing = F.lit(_UTM_K0 * _TM_A) * xi + F.lit(0.0 if north else _UTM_N0_SOUTH)
    return easting, northing


def st_transform_4326_to_utm_auto(
    lon: Column, lat: Column
) -> tuple[Column, Column, Column]:
    """Per-point zone-aware UTM: (zone, easting, northing) with each
    point projected in ITS OWN zone — the Krüger series is
    zone-independent once λ is measured from the zone's central
    meridian, so the zone (and λ0) are just more column expressions;
    the whole thing stays one codegen'd projection. Northing uses the
    hemisphere-correct false northing."""
    zone = (F.floor((lon + 180.0) / 6.0).cast("int") % 60 + 1).alias("utm_zone")
    lam0 = F.radians(zone * 6 - 183)
    phi = F.radians(lat)
    lam = F.radians(lon) - lam0
    sin_phi = F.sin(phi)
    e2rtn = 2.0 * math.sqrt(_N3) / (1.0 + _N3)
    t = F.sinh(F.atanh(sin_phi) - F.lit(e2rtn) * F.atanh(F.lit(e2rtn) * sin_phi))
    xi_p = F.atan2(t, F.cos(lam))
    eta_p = F.atanh(F.sin(lam) / F.sqrt(1 + t * t))
    xi = xi_p
    eta = eta_p
    for j, a in enumerate(_TM_ALPHA, start=1):
        xi = xi + F.lit(a) * F.sin(2 * j * xi_p) * F.cosh(2 * j * eta_p)
        eta = eta + F.lit(a) * F.cos(2 * j * xi_p) * F.sinh(2 * j * eta_p)
    easting = F.lit(_UTM_E0) + F.lit(_UTM_K0 * _TM_A) * eta
    northing = F.lit(_UTM_K0 * _TM_A) * xi + F.when(
        lat >= 0, F.lit(0.0)
    ).otherwise(F.lit(_UTM_N0_SOUTH))
    return zone, easting, northing


def st_transform_utm_to_4326(
    easting: Column, northing: Column, zone: int, north: bool = True
) -> tuple[Column, Column]:
    """Inverse UTM → EPSG:4326 (Krüger inverse series + the delta
    series for the conformal-to-geographic latitude step)."""
    lam0 = math.radians(zone * 6 - 183)
    xi = (northing - F.lit(0.0 if north else _UTM_N0_SOUTH)) / F.lit(_UTM_K0 * _TM_A)
    eta = (easting - F.lit(_UTM_E0)) / F.lit(_UTM_K0 * _TM_A)
    xi_p = xi
    eta_p = eta
    for j, b in enumerate(_TM_BETA, start=1):
        xi_p = xi_p - F.lit(b) * F.sin(2 * j * xi) * F.cosh(2 * j * eta)
        eta_p = eta_p - F.lit(b) * F.cos(2 * j * xi) * F.sinh(2 * j * eta)
    chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))  # conformal latitude
    phi = chi
    for j, d in enumerate(_TM_DELTA, start=1):
        phi = phi + F.lit(d) * F.sin(2 * j * chi)
    lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
    return F.degrees(lam) + F.lit(math.degrees(lam0)), F.degrees(phi)


def _parse_utm_epsg(code: str) -> tuple[int, bool] | None:
    """EPSG:326xx / EPSG:327xx → (zone, north) or None."""
    c = code.upper().removeprefix("EPSG:")
    if len(c) == 5 and c[:3] in ("326", "327") and c[3:].isdigit():
        zone = int(c[3:])
        if 1 <= zone <= 60:
            return zone, c[:3] == "326"
    return None


def st_transform(df, lon_col: str, lat_col: str, src: str, dst: str):
    """General CRS transform dispatcher: 4326↔3857 (spherical web
    mercator) and 4326↔UTM (EPSG:326xx/327xx, Krüger series) in pure
    column math; anything else requires pyproj (absent here →
    import-gated)."""
    key = (src.upper(), dst.upper())
    if key == ("EPSG:4326", "EPSG:3857"):
        x, y = st_transform_4326_to_3857(F.col(lon_col), F.col(lat_col))
        return df.withColumn("x_3857", x).withColumn("y_3857", y)
    if key == ("EPSG:3857", "EPSG:4326"):
        lon, lat = st_transform_3857_to_4326(F.col(lon_col), F.col(lat_col))
        return df.withColumn("longitude", lon).withColumn("latitude", lat)
    utm = _parse_utm_epsg(dst)
    if key[0] == "EPSG:4326" and utm:
        e, n = st_transform_4326_to_utm(F.col(lon_col), F.col(lat_col), *utm)
        return df.withColumn("easting", e).withColumn("northing", n)
    utm = _parse_utm_epsg(src)
    if utm and key[1] == "EPSG:4326":
        lon, lat = st_transform_utm_to_4326(F.col(lon_col), F.col(lat_col), *utm)
        return df.withColumn("longitude", lon).withColumn("latitude", lat)
    try:  # pragma: no cover
        import pyproj  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            f"CRS transform {src}->{dst} requires pyproj (not in this "
            "environment); 4326<->3857 and 4326<->UTM are built in"
        ) from e
    raise NotImplementedError("wire pyproj Transformer here")


# --- Polygons (driver-side values; broadcast as literals/UDF closures) ---

_WKT_POLYGON_RE = re.compile(r"^\s*POLYGON\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_WKT_MULTIPOLYGON_RE = re.compile(
    r"^\s*MULTIPOLYGON\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL
)


def _parse_ring(body: str) -> list[tuple[float, float]]:
    verts = []
    for pair in body.split(","):
        xs, ys = pair.split()
        verts.append((float(xs), float(ys)))
    if verts[0] != verts[-1]:
        verts.append(verts[0])
    return verts


def _split_parenthesized(body: str) -> list[str]:
    """Split 'a), (b), (c' style WKT bodies on top-level ',' between
    balanced '(...)' groups, returning the inner texts."""
    parts, depth, start = [], 0, None
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                parts.append(body[start:i])
    return parts


def parse_wkt_rings(wkt: str) -> list[list[tuple[float, float]]]:
    """Parse POLYGON (with optional interior rings) or MULTIPOLYGON WKT
    into a flat list of closed rings.

    The flat-ring form is exactly what even-odd point membership needs
    (reference AOIs via geopandas handle holed/multi polygons,
    ancillary.py:148-153): a point is inside iff an upward ray crosses
    an odd number of edges over ALL rings — holes flip parity back to
    outside, disjoint parts contribute independent parities."""
    m = _WKT_POLYGON_RE.match(wkt)
    if m:
        return [_parse_ring(b) for b in _split_parenthesized(m.group(1))]
    m = _WKT_MULTIPOLYGON_RE.match(wkt)
    if m:
        rings = []
        for poly_body in _split_parenthesized(m.group(1)):
            rings.extend(_parse_ring(b) for b in _split_parenthesized(poly_body))
        return rings
    raise ValueError(f"unsupported WKT (POLYGON/MULTIPOLYGON only): {wkt[:60]}...")


def parse_wkt_polygon(wkt: str) -> list[tuple[float, float]]:
    """Parse a single-ring WKT POLYGON into a vertex list (closed ring).
    Multi-ring/multi-part geometries go through ``parse_wkt_rings``."""
    rings = parse_wkt_rings(wkt)
    if len(rings) != 1:
        raise ValueError(
            f"expected single-ring POLYGON, got {len(rings)} rings: {wkt[:60]}..."
        )
    return rings[0]


def polygon_bounds(verts: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    return min(xs), min(ys), max(xs), max(ys)


def rings_bounds(rings: list[list[tuple[float, float]]]) -> tuple[float, float, float, float]:
    """bbox over every ring (= bbox of the outer ring(s))."""
    bs = [polygon_bounds(r) for r in rings]
    return (
        min(b[0] for b in bs),
        min(b[1] for b in bs),
        max(b[2] for b in bs),
        max(b[3] for b in bs),
    )


def _rings_to_arrays(rings: list[list[tuple[float, float]]]) -> tuple[np.ndarray, np.ndarray]:
    """Flatten rings into edge-segment endpoint arrays (x1y1 → x2y2),
    the form the vectorized even-odd kernel consumes."""
    x1, y1, x2, y2 = [], [], [], []
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            x1.append(ax)
            y1.append(ay)
            x2.append(bx)
            y2.append(by)
    return (
        np.array(list(zip(x1, y1)), dtype=np.float64),
        np.array(list(zip(x2, y2)), dtype=np.float64),
    )


def rings_to_edge_tuples(
    rings: list[list[tuple[float, float]]],
) -> list[tuple[float, float, float, float]]:
    """Flatten rings into ``(x1, y1, x2, y2)`` edge tuples — the row
    form `pip_edges_predicate` consumes (same segment set, same order,
    as the numpy arrays `_rings_to_arrays` builds for the UDF kernel)."""
    out = []
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            out.append((float(ax), float(ay), float(bx), float(by)))
    return out


#: createDataFrame column type for an AOI's edge list
EDGES_SQL_TYPE = "array<struct<x1:double,y1:double,x2:double,y2:double>>"


def pip_edges_predicate(lon: Column, lat: Column, edges: Column) -> Column:
    """Even-odd ray-cast + boundary membership over an
    ``array<struct<x1,y1,x2,y2>>`` edge column, entirely JVM-side via
    higher-order functions (guide §4.1: built-ins over UDFs) — no
    ArrowEvalPython stage, no Python boundary, no row serialization.

    Bit-identical to the numpy kernel in ``named_polygons_pip_udf`` /
    ``st_intersects_polygon``: per edge the SAME IEEE-double ops in the
    SAME order (ray x-intercept ``x1 + (y-y1)*(x2-x1)/(y2-y1)``; cross
    product / projection-parameter boundary test at 1e-9), and the
    crossing count is an integer sum, so summation order cannot matter.
    The div-by-zero corners agree too: a horizontal edge (y2==y1) can
    make ``xint`` NaN/Inf, but only when the crossing condition is
    already false (both endpoint tests equal), and a NaN ``t`` on a
    degenerate zero-length edge fails ``t <= 1`` under Spark's
    NaN-is-largest ordering exactly as it fails ``t >= 0`` under
    IEEE — property-pinned against the UDF on boundary grids."""

    def _crossing(acc: Column, e: Column) -> Column:
        cond = (e["y1"] <= lat) != (e["y2"] <= lat)
        xint = e["x1"] + (lat - e["y1"]) * (e["x2"] - e["x1"]) / (
            e["y2"] - e["y1"]
        )
        return acc + F.when(cond & (lon < xint), 1).otherwise(0)

    inside = F.aggregate(edges, F.lit(0), _crossing) % 2 == 1

    def _on_edge(e: Column) -> Column:
        dx = e["x2"] - e["x1"]
        dy = e["y2"] - e["y1"]
        cross = (lon - e["x1"]) * dy - (lat - e["y1"]) * dx
        t = ((lon - e["x1"]) * dx + (lat - e["y1"]) * dy) / (
            dx * dx + dy * dy
        )
        return (F.abs(cross) < 1e-9) & (t >= 0) & (t <= 1)

    return inside | F.exists(edges, _on_edge)


#: st_intersects_polygon builds the edge array as a plan literal (it
#: returns a bare Column — no DataFrame to hang a broadcast off).
#: Bound MEASURED (r16, 2M-point noop A/B, min-of-4 per cell): the
#: interpreted HOF costs ~25 ns/edge·row while the vectorized numpy
#: kernel costs ~2 ns/edge·row after a ~0.5 µs/row Arrow boundary
#: toll, so the kernel-dominant crossover sits near 500/(25-2) ≈ 22
#: edges — warm walls 32e: 1.22 s literal vs 0.41 s pandas; 256e:
#: 7.26 vs 1.10; 4096e (the old bound): 117 vs 27 s. Below the bound
#: the absolute gap is sub-second while the literal keeps the plan
#: Python-free and skips the worker-pool cold start (first-run pandas
#: pays 2–8 s spin-up, which dominates small row counts). At or under
#: 32 edges literal; past it the constant-size pandas-UDF closure.
PIP_LITERAL_MAX_EDGES = 32


def is_rectangle(verts: list[tuple[float, float]]) -> bool:
    """True if the ring is an axis-aligned rectangle — the fast path that
    compiles to pushdown-able range predicates."""
    ring = verts[:-1]
    if len(ring) != 4:
        return False
    xmin, ymin, xmax, ymax = polygon_bounds(verts)
    corners = {(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)}
    return set(ring) == corners and not math.isclose(xmin, xmax) and not math.isclose(ymin, ymax)


def rings_all_rects(rings: list[list[tuple[float, float]]]) -> bool:
    """True when EVERY ring is an axis-aligned rectangle — the
    rectilinear case (holed rectangles, unions of rectangles) that
    compiles to pure range predicates, no UDF."""
    return all(is_rectangle(r) for r in rings)


def rect_rings_predicate(lon: Column, lat: Column, rings) -> Column:
    """Even-odd membership for all-rectangle rings as pure column math:
    a point is in the polygon iff it lies ON any ring's boundary
    (boundaries — outer or hole — always intersect the polygon) OR it
    is STRICTLY inside an odd number of rings (a hole flips parity
    back out, a disjoint part contributes its own parity). Compiles to
    comparisons + integer adds — whole-stage codegen, pushdown-friendly
    bbox terms, exactly mirrors the SQL oracle's
    outer-minus-strict-hole algebra."""
    on_boundary = None
    strict_count = None
    for r in rings:
        xmin, ymin, xmax, ymax = polygon_bounds(r)
        ob = (
            lon.between(xmin, xmax)
            & lat.between(ymin, ymax)
            & ((lon == xmin) | (lon == xmax) | (lat == ymin) | (lat == ymax))
        )
        sc = F.when(
            (lon > xmin) & (lon < xmax) & (lat > ymin) & (lat < ymax), 1
        ).otherwise(0)
        on_boundary = ob if on_boundary is None else (on_boundary | ob)
        strict_count = sc if strict_count is None else (strict_count + sc)
    return on_boundary | (strict_count % 2 == 1)


def st_intersects_polygon(lon: Column, lat: Column, wkt: str) -> Column:
    """X9 — ``point.intersects(polygon)`` as a Column predicate.

    Rectangles → pure range predicates (pushed to the scan);
    rectilinear multi-ring geometries (holed rectangles, rectangle
    unions) → boundary-or-odd-strict-containment column math (still no
    UDF). General polygons — including interior rings (holes) and
    MULTIPOLYGON — → bbox prefilter AND the JVM even-odd ray-cast
    higher-order expression over an edge-array literal (no Python
    boundary; `pip_edges_predicate`), falling back to the vectorized
    pandas-UDF kernel past ``PIP_LITERAL_MAX_EDGES`` vertices — the
    measured crossover where interpreted per-edge HOF evaluation
    overtakes the kernel's constant Arrow-boundary toll (A/B numbers
    at the bound's definition). Boundary
    points (outer OR hole edges) count as inside, matching shapely
    ``intersects``; both engines are bit-identical (property-pinned).
    """
    rings = parse_wkt_rings(wkt)
    xmin, ymin, xmax, ymax = rings_bounds(rings)
    bbox = lon.between(xmin, xmax) & lat.between(ymin, ymax)
    if len(rings) == 1 and is_rectangle(rings[0]):
        return bbox
    if rings_all_rects(rings):
        return bbox & rect_rings_predicate(lon, lat, rings)

    edge_tuples = rings_to_edge_tuples(rings)
    if len(edge_tuples) <= PIP_LITERAL_MAX_EDGES:
        edges_lit = F.array(
            *[
                F.struct(
                    F.lit(x1).alias("x1"),
                    F.lit(y1).alias("y1"),
                    F.lit(x2).alias("x2"),
                    F.lit(y2).alias("y2"),
                )
                for (x1, y1, x2, y2) in edge_tuples
            ]
        )
        return bbox & pip_edges_predicate(lon, lat, edges_lit)

    p1, p2 = _rings_to_arrays(rings)

    @pandas_udf(BooleanType())
    def _pip(px: pd.Series, py: pd.Series) -> pd.Series:
        # self-contained closure (captures p1/p2 by value): runs on
        # bare workers without the repo on PYTHONPATH
        x = px.to_numpy(dtype=np.float64)[:, None]
        y = py.to_numpy(dtype=np.float64)[:, None]
        x1, y1 = p1[None, :, 0], p1[None, :, 1]
        x2, y2 = p2[None, :, 0], p2[None, :, 1]
        # even-odd: count edges (over ALL rings) crossing the upward ray
        cond = (y1 <= y) != (y2 <= y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        crossings = (cond & (x < xint)).sum(axis=1)
        inside = (crossings % 2) == 1
        # boundary: a point on any edge segment counts as inside
        # (shapely `intersects`; hole boundaries belong to the polygon).
        # Tolerance 1e-9: far above fp noise (~1e-13 at degree scale),
        # far below any genuine offset.
        dx, dy = x2 - x1, y2 - y1
        cross = (x - x1) * dy - (y - y1) * dx
        t = ((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy)
        on_edge = ((np.abs(cross) < 1e-9) & (t >= 0) & (t <= 1)).any(axis=1)
        return pd.Series(inside | on_edge)

    return bbox & _pip(lon, lat)


def named_polygons_pip_udf(polys: dict[str, list[list[tuple[float, float]]]]):
    """ONE vectorized point-in-polygon UDF over ``(lon, lat, aoi_name)``
    for a whole dictionary of (possibly holed/multi-part) polygons.

    This replaces a per-AOI ``when(name==n, udf_n)`` chain: at 10k AOIs
    that chain is 10k UDF invocations per row and an expression far past
    codegen limits; here every candidate row crosses into Arrow ONCE,
    rows are grouped by AOI inside numpy, and each group runs the same
    even-odd kernel as ``st_intersects_polygon``. Names absent from the
    dict (e.g. rectangles already decided by bbox) pass through True.

    Returns a factory ``(lon_col, lat_col, name_col) -> BooleanColumn``.
    The vertex arrays are captured by value in the closure (pickled once
    per task — the broadcast-dict pattern without a SparkContext
    dependency), so it runs on bare workers."""
    seg = {
        name: _rings_to_arrays(rings) for name, rings in polys.items()
    }

    def build(lon: Column, lat: Column, name: Column) -> Column:
        @pandas_udf(BooleanType())
        def _pip_named(px: pd.Series, py: pd.Series, pn: pd.Series) -> pd.Series:
            x = px.to_numpy(dtype=np.float64)
            y = py.to_numpy(dtype=np.float64)
            names = pn.to_numpy()
            out = np.ones(len(x), dtype=bool)
            for nm in pd.unique(names):
                arrs = seg.get(nm)
                if arrs is None:
                    continue  # not in dict → bbox already decided it
                mask = names == nm
                xs = x[mask][:, None]
                ys = y[mask][:, None]
                p1, p2 = arrs
                x1, y1 = p1[None, :, 0], p1[None, :, 1]
                x2, y2 = p2[None, :, 0], p2[None, :, 1]
                cond = (y1 <= ys) != (y2 <= ys)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = x1 + (ys - y1) * (x2 - x1) / (y2 - y1)
                inside = ((cond & (xs < xint)).sum(axis=1) % 2) == 1
                dx, dy = x2 - x1, y2 - y1
                cross = (xs - x1) * dy - (ys - y1) * dx
                t = ((xs - x1) * dx + (ys - y1) * dy) / (dx * dx + dy * dy)
                on_edge = ((np.abs(cross) < 1e-9) & (t >= 0) & (t <= 1)).any(axis=1)
                out[mask] = inside | on_edge
            return pd.Series(out)

        return _pip_named(lon, lat, name)

    return build


def haversine_m(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column
) -> Column:
    """Great-circle distance in meters between two WGS84 points —
    pure column trig (radians/sin/cos/asin inside codegen, no UDF).
    Spherical model (R = 6371.0088 km mean Earth radius): ≤0.5%% off
    the ellipsoid, the standard trade for analytics-grade distance.
    Float trig differs in the last ulp across libm builds, so this
    column is for measure/rank use, not hash-parity oracles."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rl1) * F.cos(rl2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return 2 * 6_371_008.8 * F.asin(F.sqrt(a))


def nearest_shots(
    shots,
    points,
    k: int = 5,
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    point_id_col: str = "point_id",
):
    """k nearest shots to each reference point by great-circle
    distance: (point_id, shot columns…, distance_m, rank).

    Plan: broadcast the (small) reference point set against the shot
    table — one corpus scan, per-point window top-k, the same
    broadcast-baseline shape as similarity.cosine_topk (and like
    there, the scale escape for BIG point sets is cell-bucketing: key
    both sides by a coarse geohash/Z-cell and equi-join; the
    adaptive-join machinery in operators/joins.py composes).
    """
    from pyspark.sql.window import Window

    p = points.select(
        F.col(point_id_col),
        F.col(lon_col).alias("__plon"),
        F.col(lat_col).alias("__plat"),
    )
    scored = shots.crossJoin(F.broadcast(p)).withColumn(
        "distance_m",
        haversine_m(F.col(lon_col), F.col(lat_col), F.col("__plon"), F.col("__plat")),
    )
    w = Window.partitionBy(point_id_col).orderBy(
        F.asc("distance_m"), F.asc("shot")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("__plon", "__plat")
    )


# standard geohash base32 alphabet (no a, i, l, o)
_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon: Column, lat: Column, precision: int = 9) -> Column:
    """Standard base32 geohash string of a WGS84 point — pure column
    math (the classic bit-interleave built from the same shift/mask
    expressions as layout.zorder_index, then 5-bit groups mapped
    through the alphabet with substring on a literal). Each character
    adds ~5 bits; precision 9 ≈ 4.8 m cells.

    Use for grouping/joining against geohash-keyed external data and
    human-debuggable cell ids; for FILE layout prefer the Morton key
    (`layout.zorder_index`) — same curve, no string materialization."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2  # even positions (from MSB) are longitude
    lat_bits = nbits // 2
    x = F.floor(
        (F.least(F.greatest(lon, F.lit(-180.0)), F.lit(180.0)) + 180.0)
        / 360.0
        * (1 << lon_bits)
    ).cast("long")
    y = F.floor(
        (F.least(F.greatest(lat, F.lit(-90.0)), F.lit(90.0)) + 90.0)
        / 180.0
        * (1 << lat_bits)
    ).cast("long")
    # clamp the exact upper edge into the last cell
    x = F.least(x, F.lit((1 << lon_bits) - 1))
    y = F.least(y, F.lit((1 << lat_bits) - 1))
    # interleave from the MSB: bit j of the hash (j=0 is MSB) takes
    # lon bit (lon_bits-1 - j//2) for even j, lat bit (lat_bits-1 -
    # j//2) for odd j
    z = F.lit(0).cast("long")
    for j in range(nbits):
        src, top = (x, lon_bits) if j % 2 == 0 else (y, lat_bits)
        bit = F.shiftright(src, top - 1 - j // 2).bitwiseAND(1)
        z = z.bitwiseOR(F.shiftleft(bit, nbits - 1 - j))
    chars = [
        F.substring(
            F.lit(_GEOHASH32),
            F.shiftright(z, (precision - 1 - i) * 5).bitwiseAND(31).cast("int") + 1,
            1,
        )
        for i in range(precision)
    ]
    return F.concat(*chars)
