"""Z-order layout (operators/layout.py): Morton key properties, file
locality after write_zordered, and the pruning payoff the layout
exists for."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators.layout import write_zordered, zorder_index


def _points(spark, n=4000, seed=5):
    import random

    rng = random.Random(seed)
    rows = [
        (i, rng.uniform(-180, 180), rng.uniform(-90, 90)) for i in range(n)
    ]
    return spark.createDataFrame(rows, ["shot", "longitude", "latitude"])


def test_zorder_key_locality_vs_corner_distance(spark):
    """Nearby points share high Morton bits; opposite corners differ in
    the top bit. Spot-check the interleave with exact cells."""
    df = spark.createDataFrame(
        [("sw", -179.9, -89.9), ("sw2", -179.7, -89.8), ("ne", 179.9, 89.9)],
        ["name", "longitude", "latitude"],
    )
    vals = {
        r["name"]: r["z"]
        for r in df.select("name", zorder_index(bits=16).alias("z")).collect()
    }
    assert abs(vals["sw"] - vals["sw2"]) < abs(vals["sw"] - vals["ne"])
    assert vals["ne"] > vals["sw"]


def test_zorder_bits_bounds():
    with pytest.raises(ValueError):
        zorder_index(bits=0)
    with pytest.raises(ValueError):
        zorder_index(bits=32)


def test_write_zordered_files_are_spatial_tiles(spark, tmp_path):
    """After the Z-order write, every file's lon/lat footer span must be
    far narrower than the global span — that narrowness IS what lets a
    bbox scan skip files. A hash/random layout gives ~global span in
    every file."""
    path = str(tmp_path / "zordered")
    write_zordered(_points(spark), path, n_files=16)
    spans = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.read_metadata(f)
        lon_idx = md.schema.names.index("longitude")
        lo, hi = float("inf"), float("-inf")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(lon_idx).statistics
            lo, hi = min(lo, st.min), max(hi, st.max)
        spans.append(hi - lo)
    assert len(spans) >= 8
    # average file covers a small slice of the 360-degree globe
    assert sum(spans) / len(spans) < 360 * 0.55
    assert min(spans) < 360 * 0.3


def test_write_zordered_roundtrip_complete(spark, tmp_path):
    path = str(tmp_path / "zr")
    df = _points(spark, n=500)
    write_zordered(df, path, n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 500
    assert sorted(r["shot"] for r in back.select("shot").collect()) == list(range(500))
    assert "__z" not in back.columns


def test_bbox_scan_skips_zordered_files(spark, tmp_path):
    """The payoff, measured end-to-end: a small-bbox scan over the
    Z-ordered table reads fewer parquet files than exist (Spark's
    parquet filter pushdown + footer stats), while returning exactly
    the right rows."""
    path = str(tmp_path / "zp")
    write_zordered(_points(spark), path, n_files=16)
    bbox = (F.col("longitude").between(100, 140)) & (F.col("latitude").between(0, 40))
    got = spark.read.parquet(path).filter(bbox)
    expected = _points(spark).filter(bbox)
    assert got.count() == expected.count() > 0
    # row-group level: the matching rows live in a handful of files
    files_touched = {
        r["f"]
        for r in got.select(F.input_file_name().alias("f")).distinct().collect()
    }
    # ~11% of the globe's area lands in ≤ half the files — a random
    # layout would put matches in essentially every file
    assert len(files_touched) <= 8  # of 16 — the locality did its job


def test_zorder_boundary_and_nan_behavior(spark):
    """Exact globe corners stay in-range (the quantizer multiplies by
    2^bits - 1, so +180/+90 land on the last cell, not overflow);
    out-of-range coordinates clamp. NaN: Spark orders NaN above every
    double, so least(NaN, hi) = hi — NaN coordinates deterministically
    clamp to the max cell instead of poisoning the key (callers filter
    invalid rows upstream; the layout just must not corrupt)."""
    df = spark.createDataFrame(
        [
            ("max", 180.0, 90.0),
            ("min", -180.0, -90.0),
            ("over", 999.0, 999.0),
            ("nan", float("nan"), 0.0),
        ],
        ["name", "longitude", "latitude"],
    )
    rows = {
        r["name"]: r["z"]
        for r in df.select("name", zorder_index(bits=8).alias("z")).collect()
    }
    top = (1 << 16) - 1  # all 16 bits set for bits=8
    assert rows["max"] == top and rows["min"] == 0
    assert rows["over"] == rows["max"]  # clamped
    # NaN lon clamps to the max lon cell; lat 0 interleaves normally
    nan_expected = {
        r["z"]
        for r in spark.createDataFrame([("x", 180.0, 0.0)], ["name", "longitude", "latitude"])
        .select(zorder_index(bits=8).alias("z"))
        .collect()
    }
    assert rows["nan"] in nan_expected


def test_geoparquet_zorder_option(spark, tmp_path):
    """write_geoparquet(zorder=True) lays rows along the curve: output
    parquet files carry narrow lon spans (tile-shaped footers) and the
    data round-trips completely with the geo footer stamped."""
    from gedixr_spark.sinks.geoparquet import write_geoparquet

    df = _points(spark, n=2000).withColumnRenamed("shot", "shot_id")
    path = str(tmp_path / "geo_z")
    write_geoparquet(df, path, zorder=True, zorder_files=8, mode="overwrite")
    back = spark.read.parquet(path)
    assert back.count() == 2000
    spans = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.read_metadata(f)
        li = md.schema.names.index("longitude")
        st = md.row_group(0).column(li).statistics
        lo, hi = st.min, st.max
        for rg in range(1, md.num_row_groups):
            s = md.row_group(rg).column(li).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        spans.append(hi - lo)
    assert len(spans) >= 2 and min(spans) < 360 * 0.6


# ------------------------------------------------- generalized z-order


def test_zorder_columns_key_properties(spark):
    from gedixr_spark.operators.layout import zorder_index_columns

    df = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("a"),
        (F.col("id") / 10).cast("double").alias("b"),
        F.col("id"),
    )
    key, bounds = zorder_index_columns(df, ["a", "b"], bits=8)
    assert set(bounds) == {"a", "b"}
    keyed = df.withColumn("z", key)
    rows = keyed.select("a", "b", "z").collect()
    assert all(r["z"] >= 0 for r in rows)
    # corner ordering: the all-min point maps to key 0
    lo = min(rows, key=lambda r: (r["a"], r["b"]))
    assert lo["z"] == min(r["z"] for r in rows)


def test_zorder_columns_validation(spark):
    from gedixr_spark.operators.layout import zorder_index_columns

    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"),
        F.lit(None).cast("double").alias("c"),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 2 columns"):
        zorder_index_columns(df, ["a"])
    with _pytest.raises(ValueError, match="key bits"):
        zorder_index_columns(df, ["a", "b"], bits=32)
    with _pytest.raises(ValueError, match="all-null"):
        zorder_index_columns(df, ["a", "c"], bits=8)


def test_zorder_columns_write_prunes_on_both_dimensions(spark, tmp_path):
    """The multi-dimensional clustering claim, measured: after
    write_zordered_columns on (x, y), a selective filter on EITHER
    column alone skips most files (per-file min/max spans are narrow
    in both dimensions) — a plain single-column sort can only prune
    one of them."""
    from gedixr_spark.operators.layout import write_zordered_columns

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).cast("double").alias("x"),
        ((F.col("id") * 7919) % 141).cast("double").alias("y"),
        F.col("id"),
    )
    path = str(tmp_path / "zc")
    res = write_zordered_columns(df, path, ["x", "y"], n_files=16, bits=8)
    assert set(res["bounds"]) == {"x", "y"}

    spans = (
        spark.read.parquet(path)
        .select("x", "y", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(
            F.min("x").alias("x_lo"), F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"), F.max("y").alias("y_hi"),
        )
        .collect()
    )
    assert len(spans) == 16
    full = 141.0

    def files_overlapping(col_lo, col_hi, lo, hi):
        return sum(1 for r in spans if not (r[col_hi] < lo or r[col_lo] > hi))

    # a 10%-wide slice on x and on y must each touch well under half
    # the files
    assert files_overlapping("x_lo", "x_hi", 0, full * 0.1) <= 6
    assert files_overlapping("y_lo", "y_hi", 0, full * 0.1) <= 6


def test_pruning_report_before_and_after_clustering(spark, tmp_path):
    from gedixr_spark.operators.layout import compact_table, pruning_report

    path = str(tmp_path / "t")
    df = spark.range(20_000).select(((F.col("id") * 7919) % 1000).alias("k"))
    df.repartition(10).write.parquet(path)
    before = pruning_report(spark, path, "k", 0, 99)  # 10% slice
    assert before["n_files"] == 10
    assert before["ratio"] == 1.0  # random layout: every file overlaps
    compact_table(spark, path, sort_by=["k"], n_files=10)
    after = pruning_report(spark, path, "k", 0, 99)
    assert after["n_files"] == 10
    assert after["ratio"] <= 0.2, after  # clustered: ~1 of 10 files
