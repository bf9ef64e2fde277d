"""Multi-ring (holed) / MultiPolygon AOIs, the edge-array refinement in
the spatial join, and the stdlib shapefile reader.

Reference parity targets: geopandas-style holed/multi AOIs via
prepare_vec (ancillary.py:121-154) and the per-AOI intersects loop
(extract.py:176-184).
"""

import struct

import pytest
from pyspark.sql import functions as F

from gedixr_spark.contract import shots_l2a
from gedixr_spark.geo import parse_wkt_rings, st_intersects_polygon
from gedixr_spark.operators.joins import spatial_join_aoi
from gedixr_spark.sources.vector import aoi_from_shapefile, aoi_from_wkt, prepare_vec
from gedixr_spark.testing import intersects_reference

HOLED = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"
MULTI = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"


def test_parse_wkt_rings_holed_and_multi():
    rings = parse_wkt_rings(HOLED)
    assert len(rings) == 2 and rings[0][0] == (0.0, 0.0) and rings[1][0] == (3.0, 3.0)
    rings = parse_wkt_rings(MULTI)
    assert len(rings) == 2 and rings[1][0] == (5.0, 5.0)
    # single-ring still parses
    assert len(parse_wkt_rings("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")) == 1


def _membership(spark, wkt, points):
    df = spark.createDataFrame(points, "x double, y double")
    pred = st_intersects_polygon(F.col("x"), F.col("y"), wkt)
    return [r["m"] for r in df.select(pred.alias("m")).collect()]


def test_holed_polygon_membership(spark):
    pts = [
        (1.0, 1.0),   # annulus -> in
        (5.0, 5.0),   # inside the hole -> out
        (3.0, 5.0),   # ON the hole boundary -> in (intersects semantics)
        (0.0, 5.0),   # on the outer boundary -> in
        (11.0, 5.0),  # outside -> out
    ]
    assert _membership(spark, HOLED, pts) == [True, False, True, True, False]


def test_multipolygon_membership(spark):
    pts = [(1.0, 1.0), (6.0, 6.0), (3.0, 3.0), (5.0, 5.0)]
    # in part A, in part B, between parts, on B's corner
    assert _membership(spark, MULTI, pts) == [True, True, False, True]


def test_holed_join_matches_pip_reference(spark):
    """The J2 join over holed + multi + triangle AOIs returns exactly the
    (shot, AOI) pairs the numpy reference finds (sf0.01: the derived
    shots actually reach these lon/lat ranges)."""
    aois = {
        "holed": "POLYGON ((-8 41, -2 41, -2 52, -8 52, -8 41), (-6 44, -4 44, -4 48, -6 48, -6 44))",
        "multi": "MULTIPOLYGON (((1 43, 4 43, 4 51, 1 51, 1 43)), ((5 43, 9 43, 9 51, 5 51, 5 43)))",
        "tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))",
    }
    sf = "/root/testdata/sf0.01"
    shots = shots_l2a(spark, sf).select("shot", "longitude", "latitude").collect()
    xs = [r["longitude"] for r in shots]
    ys = [r["latitude"] for r in shots]
    truth = {
        (r["shot"], name)
        for name, wkt in aois.items()
        for r, hit in zip(shots, intersects_reference(xs, ys, wkt))
        if hit
    }
    got = {(r["shot"], r["aoi_name"]) for r in
           spatial_join_aoi(shots_l2a(spark, sf), aoi_from_wkt(spark, aois))
           .select("shot", "aoi_name").collect()}
    assert got == truth and {n for _, n in got} == set(aois)
    # the hole actually excludes something: holed count < full-rect count
    full = {
        "holed_full": "POLYGON ((-8 41, -2 41, -2 52, -8 52, -8 41))",
    }
    af = spatial_join_aoi(shots_l2a(spark, sf), aoi_from_wkt(spark, full)).count()
    assert sum(1 for s, n in got if n == "holed") < af


def test_rectilinear_aois_refine_without_udf(spark):
    """Holed/multi RECTANGLE AOIs refine JVM-side: the contract's
    spatial_join_holed plan has NO Python UDF node."""
    from gedixr_spark.contract import q_spatial_join_holed

    out = q_spatial_join_holed(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rectilinear_membership_matches_pip_reference(spark):
    """st_intersects_polygon over all-rectangle rings (a holed square,
    two disjoint squares) agrees with the numpy reference on a grid of
    probe points, ring boundaries included."""
    pts = [
        (x / 2.0, y / 2.0) for x in range(-2, 24) for y in range(-2, 24)
    ]
    xs = [x for x, _ in pts]
    ys = [y for _, y in pts]
    for wkt in (HOLED, MULTI):
        assert _membership(spark, wkt, pts) == [
            bool(v) for v in intersects_reference(xs, ys, wkt)
        ]


def test_indexed_join_single_udf_node_at_many_nonrect_aois(spark):
    """>=100 non-rectangular AOIs refine through a SINGLE JVM
    higher-order filter over per-AOI edge arrays — zero
    Python-evaluation nodes, not a per-AOI when/udf chain."""
    many = {}
    for i in range(120):
        x, y = -10 + (i % 20), 40 + (i // 20) * 0.8
        # right triangles: non-rectangular on purpose
        many[f"tri_{i}"] = (
            f"POLYGON (({x} {y}, {x + 0.9} {y}, {x} {y + 0.7}, {x} {y}))"
        )
    out = spatial_join_aoi(
        shots_l2a(spark, "/root/testdata/sf0.001"), aoi_from_wkt(spark, many)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert out.count() >= 0  # and it executes


def _write_shp(path, records):
    """Minimal ESRI .shp writer (driver-side test fixture): records is
    a list of ring-lists; each ring a list of (x, y)."""
    payload = b""
    for recnum, rings in enumerate(records, start=1):
        pts = [p for ring in rings for p in ring]
        parts = []
        off = 0
        for ring in rings:
            parts.append(off)
            off += len(ring)
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        content = struct.pack("<i", 5)
        content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        content += struct.pack("<ii", len(rings), len(pts))
        content += struct.pack(f"<{len(parts)}i", *parts)
        for x, y in pts:
            content += struct.pack("<2d", x, y)
        payload += struct.pack(">ii", recnum, len(content) // 2) + content
    header = struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, (100 + len(payload)) // 2)
    header += struct.pack("<ii", 1000, 5)
    header += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
    path.write_bytes(header + payload)


def test_shapefile_reader_holed_and_multirecord(spark, tmp_path):
    shp = tmp_path / "areas.shp"
    # record 0: square with a hole (exterior CW per spec, hole CCW)
    outer = [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)]          # CW
    hole = [(3, 3), (7, 3), (7, 7), (3, 7), (3, 3)]               # CCW
    # record 1: plain CW triangle
    tri = [(20, 20), (20, 24), (24, 20), (20, 20)]
    _write_shp(shp, [[outer, hole], [tri]])
    df = aoi_from_shapefile(spark, shp)
    rows = {r["aoi_name"]: r["geometry_wkt"] for r in df.collect()}
    assert set(rows) == {"areas_0", "areas_1"}
    rings0 = parse_wkt_rings(rows["areas_0"])
    assert len(rings0) == 2  # exterior + hole survived
    # membership through the engine: hole point excluded
    assert _membership(spark, rows["areas_0"], [(5.0, 5.0), (1.0, 1.0)]) == [False, True]
    # suffix dispatch
    assert {r["aoi_name"] for r in prepare_vec(spark, shp).collect()} == {"areas_0", "areas_1"}


def test_shapefile_multiple_exteriors_make_multipolygon(spark, tmp_path):
    shp = tmp_path / "two.shp"
    a = [(0, 0), (0, 2), (2, 2), (2, 0), (0, 0)]    # CW
    b = [(5, 5), (5, 7), (7, 7), (7, 5), (5, 5)]    # CW
    _write_shp(shp, [[a, b]])
    wkt = aoi_from_shapefile(spark, shp).collect()[0]["geometry_wkt"]
    assert wkt.startswith("MULTIPOLYGON")
    assert _membership(spark, wkt, [(1.0, 1.0), (6.0, 6.0), (3.5, 3.5)]) == [
        True, True, False,
    ]


def test_shapefile_rejects_non_polygon(tmp_path, spark):
    shp = tmp_path / "pt.shp"
    content = struct.pack("<i", 1) + struct.pack("<2d", 1.0, 2.0)  # Point record
    payload = struct.pack(">ii", 1, len(content) // 2) + content
    header = struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, (100 + len(payload)) // 2)
    header += struct.pack("<ii", 1000, 1)
    header += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
    shp.write_bytes(header + payload)
    with pytest.raises(ValueError, match="shape type"):
        aoi_from_shapefile(spark, shp)
