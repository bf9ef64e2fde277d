"""J1-J3 merge semantics + J2 spatial join (SURVEY.md §2.4)."""

import datetime

import pytest

from gedixr_spark.operators.joins import (
    MergeError,
    check_key_overlap,
    check_merge_counts,
    merge_keyed,
    merge_products,
    spatial_join_aoi,
)
from gedixr_spark.sources.vector import aoi_from_wkt

TS = datetime.datetime(2020, 4, 4)


def _l2a(spark):
    return spark.createDataFrame(
        [("s1", TS, 100, 0.9), ("s2", TS, 200, 0.8), ("s3", TS, 300, 0.7)],
        ["shot", "acq_time", "rh98", "sensitivity"],
    )


def _l2b(spark):
    return spark.createDataFrame(
        [("s1", TS, 0.5, 0.95), ("s2", TS, 0.6, 0.85), ("s9", TS, 0.7, 0.75)],
        ["shot", "acq_time", "tcc", "sensitivity"],
    )


def test_merge_inner_with_suffixes(spark):
    out = merge_products(_l2b(spark), _l2a(spark), on=("shot", "acq_time"))
    assert out.count() == 2
    # pandas-style suffixes on colliding non-key columns (xr.py:84-86)
    assert "sensitivity_l2b" in out.columns and "sensitivity_l2a" in out.columns
    assert "rh98" in out.columns and "tcc" in out.columns


def test_merge_how_variants(spark):
    left = merge_products(_l2b(spark), _l2a(spark), how="left", on=("shot", "acq_time"))
    assert left.count() == 3
    outer = merge_products(_l2b(spark), _l2a(spark), how="outer", on=("shot", "acq_time"))
    assert outer.count() == 4


def test_merge_no_common_keys_raises(spark):
    a = spark.createDataFrame([(1,)], ["x"])
    b = spark.createDataFrame([(1,)], ["y"])
    with pytest.raises(MergeError):
        merge_products(a, b, on=("shot",))


def test_check_merge_counts(spark):
    # row-count-equality warning condition (xr.py:137-141)
    assert check_merge_counts(_l2b(spark), _l2a(spark))
    assert not check_merge_counts(_l2b(spark), _l2a(spark).limit(2))


def test_merge_keyed_and_overlap_check(spark):
    import pyspark.sql.functions as F

    l2a = _l2a(spark).withColumn("aoi_name", F.col("shot").substr(1, 2))
    l2b = _l2b(spark).withColumn("aoi_name", F.col("shot").substr(1, 2))
    out = merge_keyed(l2b, l2a, on=("shot", "acq_time"))
    assert out.count() == 2
    assert check_key_overlap(l2b, l2a) == 2  # keys s1, s2 on both sides
    # zero-overlap error (xr.py:95-97)
    with pytest.raises(MergeError):
        check_key_overlap(l2b.withColumn("aoi_name", F.lit("zzz")), l2a)


def test_spatial_join_replicates_into_overlapping_aois(spark):
    shots = spark.createDataFrame(
        [("a", 0.5, 44.5), ("b", 3.0, 45.0), ("c", 100.0, 45.0)],
        ["shot", "longitude", "latitude"],
    )
    aois = aoi_from_wkt(
        spark,
        {
            "r1": "POLYGON ((0 44, 4 44, 4 46, 0 46, 0 44))",
            "r2": "POLYGON ((2 44, 6 44, 6 46, 2 46, 2 44))",
            "tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))",
        },
    )
    out = spatial_join_aoi(shots, aois)
    got = {(r["shot"], r["aoi_name"]) for r in out.collect()}
    # b intersects r1, r2 and the triangle; a intersects r1 + triangle; c none
    assert got == {("a", "r1"), ("a", "tri"), ("b", "r1"), ("b", "r2"), ("b", "tri")}


def test_spatial_join_empty_aoi_table_raises(spark):
    shots = spark.createDataFrame([("a", 0.0, 0.0)], ["shot", "longitude", "latitude"])
    with pytest.raises(MergeError):
        spatial_join_aoi(shots, aoi_from_wkt(spark, {}))


def test_spatial_join_auto_routes_by_aoi_count(spark):
    """spatial_join_aoi_auto, the alias of spatial_join_aoi kept for
    older callers, returns the right rows for a handful of rectangles,
    for more than 32 of them, and for a rectangle mixed with a
    triangle."""
    from gedixr_spark.operators.joins import spatial_join_aoi_auto

    shots = spark.createDataFrame(
        [("a", 0.5, 44.5), ("b", 3.0, 45.0), ("c", 100.0, 45.0)],
        ["shot", "longitude", "latitude"],
    )
    few = aoi_from_wkt(spark, {"r1": "POLYGON ((0 44, 4 44, 4 46, 0 46, 0 44))"})
    many = aoi_from_wkt(
        spark,
        {
            f"r{i}": f"POLYGON (({i} 44, {i + 1} 44, {i + 1} 46, {i} 46, {i} 44))"
            for i in range(40)
        },
    )

    few_out = spatial_join_aoi_auto(shots, few)
    assert {(r["shot"], r["aoi_name"]) for r in few_out.collect()} == {
        ("a", "r1"), ("b", "r1")
    }

    many_out = spatial_join_aoi_auto(shots, many)
    got = {(r["shot"], r["aoi_name"]) for r in many_out.collect()}
    assert got == {("a", "r0"), ("b", "r2"), ("b", "r3")}

    mixed = aoi_from_wkt(
        spark,
        {
            "r1": "POLYGON ((0 44, 4 44, 4 46, 0 46, 0 44))",
            "tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))",
        },
    )
    mixed_out = spatial_join_aoi_auto(shots, mixed)
    got = {(r["shot"], r["aoi_name"]) for r in mixed_out.collect()}
    assert got == {("a", "r1"), ("a", "tri"), ("b", "r1"), ("b", "tri")}


def test_spatial_join_keeps_shot_columns_named_like_its_internals(spark):
    """Shots may carry columns named like the join's bookkeeping (cell
    ids, bbox bounds, edge arrays): every J2 entry point returns them
    untouched, in order, followed by aoi_name — with a rectangle and a
    general polygon in the AOI set, so both refinements run."""
    from gedixr_spark.operators.joins import spatial_join_aoi_auto

    cols = ["shot", "longitude", "latitude", "cell_x", "cell_y", "xmin",
            "ymax", "nonrect", "edges", "aoi"]
    shots = spark.createDataFrame(
        [("a", 0.5, 44.5, 7, 8, -1.0, 2.0, True, "e", "x"),
         ("b", 5.5, 49.0, 7, 8, -1.0, 2.0, False, "e", "x")],
        cols,
    )
    aois = aoi_from_wkt(
        spark,
        {
            "r1": "POLYGON ((0 44, 4 44, 4 46, 0 46, 0 44))",
            "tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))",
        },
    )
    for join in (spatial_join_aoi, spatial_join_aoi_auto):
        out = join(shots, aois)
        assert out.columns == cols + ["aoi_name"]
        assert sorted(tuple(r) for r in out.collect()) == [
            ("a", 0.5, 44.5, 7, 8, -1.0, 2.0, True, "e", "x", "r1"),
            ("a", 0.5, 44.5, 7, 8, -1.0, 2.0, True, "e", "x", "tri"),
        ]
