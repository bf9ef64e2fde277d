"""geo layer: WKT parsing, struct geometry, WKB boundary, point-in-polygon."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gedixr_spark.geo import (
    is_rectangle,
    parse_wkt_rings,
    point_struct_to_wkb,
    polygon_bounds,
    st_intersects_polygon,
    st_point,
    st_x,
    st_y,
    wkb_point_xy,
)


def test_parse_wkt_polygon_closes_ring():
    verts = parse_wkt_rings("POLYGON ((0 0, 1 0, 1 1, 0 1))")[0]
    assert verts[0] == verts[-1] and len(verts) == 5


def test_is_rectangle():
    assert is_rectangle(parse_wkt_rings("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")[0])
    assert not is_rectangle(parse_wkt_rings("POLYGON ((0 0, 6 0, 3 5, 0 0))")[0])


def test_polygon_bounds():
    assert polygon_bounds(parse_wkt_rings("POLYGON ((0 1, 2 1, 2 3, 0 3, 0 1))")[0]) == (
        0.0, 1.0, 2.0, 3.0,
    )


def test_st_point_struct_roundtrip(spark):
    df = spark.createDataFrame([(1.5, -2.5)], ["lon", "lat"])
    g = df.select(st_point(F.col("lon"), F.col("lat")).alias("geometry"))
    row = g.select(st_x("geometry").alias("x"), st_y("geometry").alias("y")).first()
    assert (row["x"], row["y"]) == (1.5, -2.5)


def test_wkb_encode_decode(spark):
    df = spark.createDataFrame([(12.25, -60.5), (0.0, 1.0)], ["lon", "lat"])
    wkb = df.select(
        point_struct_to_wkb(st_point(F.col("lon"), F.col("lat"))).alias("g")
    ).collect()
    assert wkb[0]["g"][:5] == b"\x01\x01\x00\x00\x00"  # LE WKB Point header
    x, y = wkb_point_xy(pd.Series([r["g"] for r in wkb]))
    assert list(x) == [12.25, 0.0] and list(y) == [-60.5, 1.0]


def test_point_in_polygon_general(spark):
    tri = "POLYGON ((0 0, 6 0, 3 6, 0 0))"
    df = spark.createDataFrame(
        [(3.0, 2.0, True), (3.0, 0.0, True), (0.0, 0.0, True), (5.9, 5.9, False), (-1.0, 0.0, False)],
        ["x", "y", "expect"],
    )
    out = df.withColumn("hit", st_intersects_polygon(F.col("x"), F.col("y"), tri))
    for r in out.collect():
        assert r["hit"] == r["expect"], (r["x"], r["y"])


def test_rectangle_predicate_has_no_udf(spark):
    rect = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    df = spark.createDataFrame([(0.5, 0.5)], ["x", "y"])
    plan = df.filter(
        st_intersects_polygon(F.col("x"), F.col("y"), rect)
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan  # pure range predicates


def test_haversine_known_distances(spark):
    """Differential vs hand-computed great-circle references."""
    from gedixr_spark.geo import haversine_m

    rows = [
        # Paris → London ≈ 343.5 km
        (0, 2.3522, 48.8566, -0.1276, 51.5072, 343_500),
        # same point → 0
        (1, 10.0, 50.0, 10.0, 50.0, 0),
        # 1 degree of longitude at the equator ≈ 111.19 km
        (2, 0.0, 0.0, 1.0, 0.0, 111_195),
    ]
    df = spark.createDataFrame(
        rows, "i long, lon1 double, lat1 double, lon2 double, lat2 double, want long"
    )
    got = df.select(
        "i", "want",
        haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d"),
    ).collect()
    for r in got:
        assert abs(r["d"] - r["want"]) <= max(1.0, 0.01 * r["want"]), (r["i"], r["d"])


def test_nearest_shots_topk(spark):
    from gedixr_spark.geo import nearest_shots

    shots = spark.createDataFrame(
        [(f"s{i}", 10.0 + i * 0.01, 50.0) for i in range(20)],
        "shot string, longitude double, latitude double",
    )
    points = spark.createDataFrame(
        [(1, 10.0, 50.0), (2, 10.19, 50.0)],
        "point_id long, longitude double, latitude double",
    )
    out = nearest_shots(shots, points, k=3)
    by_point = {}
    for r in out.collect():
        by_point.setdefault(r["point_id"], []).append((r["rank"], r["shot"], r["distance_m"]))
    for pid in (1, 2):
        ranks = sorted(by_point[pid])
        assert [x[0] for x in ranks] == [1, 2, 3]
        # distances non-decreasing with rank
        assert ranks[0][2] <= ranks[1][2] <= ranks[2][2]
    assert sorted(x[1] for x in by_point[1]) == ["s0", "s1", "s2"]
    assert sorted(x[1] for x in by_point[2]) == ["s17", "s18", "s19"]


def test_geohash_known_values(spark):
    """Differential vs the canonical examples (Wikipedia: 42.605,
    -5.603 → ezs42) and a property sweep against the pure-Python
    reference encoder."""
    from gedixr_spark.geo import geohash

    df = spark.createDataFrame(
        [(0, -5.6030, 42.6050), (1, -0.1276, 51.5072), (2, 0.0, 0.0)],
        "i long, lon double, lat double",
    )
    got = {
        r["i"]: r["g"]
        for r in df.select("i", geohash(F.col("lon"), F.col("lat"), 5).alias("g")).collect()
    }
    assert got[0] == "ezs42"

    # pure-Python reference
    def ref(lat, lon, precision):
        b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, out, even = 0, "", True
        n = 0
        while len(out) < precision:
            if even:
                mid = (lon_r[0] + lon_r[1]) / 2
                if lon >= mid:
                    n = n * 2 + 1
                    lon_r[0] = mid
                else:
                    n = n * 2
                    lon_r[1] = mid
            else:
                mid = (lat_r[0] + lat_r[1]) / 2
                if lat >= mid:
                    n = n * 2 + 1
                    lat_r[0] = mid
                else:
                    n = n * 2
                    lat_r[1] = mid
            even = not even
            bits += 1
            if bits == 5:
                out += b32[n]
                bits, n = 0, 0
        return out

    pts = [(-5.603, 42.605), (-0.1276, 51.5072), (0.0, 0.0), (139.6917, 35.6895),
           (-122.4194, 37.7749), (179.9, -89.9)]
    pdf = spark.createDataFrame(
        [(i, lo, la) for i, (lo, la) in enumerate(pts)], "i long, lon double, lat double"
    )
    got = {
        r["i"]: r["g"]
        for r in pdf.select("i", geohash(F.col("lon"), F.col("lat"), 9).alias("g")).collect()
    }
    for i, (lo, la) in enumerate(pts):
        assert got[i] == ref(la, lo, 9), (i, got[i], ref(la, lo, 9))


def test_geohash_validates(spark):
    from gedixr_spark.geo import geohash

    import pytest as _pytest

    with _pytest.raises(ValueError, match="precision"):
        geohash(F.lit(0.0), F.lit(0.0), 13)
