"""Distributed read planning through the manifest DataFrame (r14
VERDICT #5): above a live-file threshold `read_where`/`read_where_all`
plan as a Spark filter over the checkpoint manifest — the driver holds
only survivors plus the O(Δ) post-checkpoint delta, never the live
list. These tests force the threshold down and pin SCALE == STANDARD:
same keep set, same totals, same scan results, across post-checkpoint
adds/removes, DV deletes, NaN float stats and empty-stats files.

Extension-layer surface (no reference parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _vt():
    from gedixr_spark.sinks import versioned as vt
    return vt


@pytest.fixture()
def low_threshold(monkeypatch):
    vt = _vt()
    monkeypatch.setattr(vt, "_SCALE_PLAN_MIN_FILES", 1)
    return vt


def _mk(spark, rows, schema="k long, x double, v string"):
    return spark.createDataFrame(rows, schema)


def _build(spark, vt, t):
    """Manifest checkpoint + a post-checkpoint delta touching every
    membership shape: add, remove (compact), DV delete, NaN stats."""
    vt.init_versioned(spark, t)
    for i in range(5):
        vt.commit_append(
            spark, t,
            _mk(spark, [(i * 100 + j, float(i * 100 + j), f"x{i}{j}")
                        for j in range(5)]).coalesce(1),
            stats_cols=["k", "x"],
        )
    # a file whose x stats are NaN-poisoned and one with zero non-null
    vt.commit_append(
        spark, t,
        _mk(spark, [(900, float("nan"), "n1"), (901, 5.0, "n2")]).coalesce(1),
        stats_cols=["k", "x"],
    )
    vt.commit_append(
        spark, t,
        spark.createDataFrame(
            [(950, None, "z")], "k long, x double, v string"
        ).coalesce(1),
        stats_cols=["k", "x"],
    )
    vt.checkpoint_log(spark, t, format="parquet")
    # post-checkpoint delta: add, DV delete, remove-by-upsert
    vt.commit_append(
        spark, t,
        _mk(spark, [(1000 + j, float(j), f"p{j}") for j in range(5)])
        .coalesce(1),
        stats_cols=["k", "x"],
    )
    vt.commit_delete(spark, t, F.col("k") == 102, mode="dv")
    vt.commit_upsert(spark, t, _mk(spark, [(203, 7.5, "up")]), keys=["k"],
                     stats_cols=["k", "x"])
    return vt.table_history(spark, t)[-1]["version"]


CASES = [
    {"k": (0, 150)},
    {"k": (250, None)},
    {"x": (200.0, 320.0)},
    {"x": (850.0, None)},          # NaN-stats file must stay kept
    {"k": (None, None)},
    {"k": (0, 150), "x": (None, 120.0)},
    {"k": (99_999, None)},
]


def test_scale_plan_equals_standard_path(spark, tmp_path, low_threshold):
    vt = low_threshold
    t = str(tmp_path / "t")
    cap = _build(spark, vt, t)
    live = vt.live_files(spark, t)
    for ranges in CASES:
        scale = vt._scale_plan(spark, t, ranges, cap)
        assert scale is not None, ranges
        keep_s, total_s, dvs_s, _merge = scale
        keep_d, total_d = vt.files_for_ranges(
            spark, t, ranges, files=live,
            stats=vt.file_range_stats(spark, t),
        )
        assert sorted(keep_s) == sorted(keep_d), ranges
        assert total_s == total_d, ranges
        _live_d, dvs_d = vt._replay_state(spark, t)
        assert dvs_s == dvs_d


def test_scale_read_results_equal_standard(spark, tmp_path, low_threshold):
    vt = low_threshold
    t = str(tmp_path / "t")
    _build(spark, vt, t)
    full = vt.read_versioned(spark, t)
    # scale path engaged (threshold 1): read_where goes through Spark
    # manifest planning; results must equal the exact filter — incl.
    # the DV-deleted row staying gone and the NaN row surviving
    for col, lo, hi in [("k", 0, 150), ("k", 250, None), ("x", 850.0, None),
                        ("x", None, 120.0), ("k", 99_999, None)]:
        got = sorted(
            r["k"] for r in vt.read_where(spark, t, col, lo, hi).collect()
        )
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) <= hi)
        want = sorted(r["k"] for r in full.filter(cond).collect())
        assert got == want, (col, lo, hi)
    assert full.filter(F.col("k") == 102).count() == 0  # DV held
    got = sorted(
        r["k"]
        for r in vt.read_where_all(
            spark, t, {"k": (0, 300), "x": (None, 150.0)}
        ).collect()
    )
    want = sorted(
        r["k"]
        for r in full.filter(
            (F.col("k") <= 300) & (F.col("x") <= 150.0)
        ).collect()
    )
    assert got == want


def test_scale_plan_stays_off_below_threshold(spark, tmp_path):
    """At the default threshold a small table never pays a Spark job
    for planning — _scale_plan declines and the in-memory path runs."""
    vt = _vt()
    t = str(tmp_path / "t")
    cap = _build(spark, vt, t)
    assert vt._scale_plan(
        spark, t, {"k": (0, 150)}, cap
    ) is None


def test_scale_plan_declines_colmap_and_missing_bounds(
    spark, tmp_path, low_threshold
):
    vt = low_threshold
    t = str(tmp_path / "t")
    cap = _build(spark, vt, t)
    # string-bound against a long column: bail
    assert vt._scale_plan(
        spark, t, {"k": ("a", None)}, cap
    ) is None
    # unknown column: bail
    assert vt._scale_plan(
        spark, t, {"nope": (1, 2)}, cap
    ) is None
    # column mapping: the O(#files) translation walks make the
    # distributed path pointless — decline, in-memory id path serves
    vt.rename_column(spark, t, "k", "kk")
    cap2 = vt.table_history(spark, t)[-1]["version"]
    assert vt._scale_plan(
        spark, t, {"kk": (0, 150)}, cap2
    ) is None
    got = sorted(
        r["kk"] for r in vt.read_where(spark, t, "kk", 0, 150).collect()
    )
    want = sorted(
        r["kk"]
        for r in vt.read_versioned(spark, t)
        .filter(F.col("kk") <= 150).collect()
    )
    assert got == want


def test_scale_point_lookup_equals_standard(spark, tmp_path, low_threshold):
    """read_point through the distributed plan: stats-level candidates
    from the manifest job, bloom bytes parsed only for them — results
    equal the standard path, present and absent needles alike."""
    vt = low_threshold
    t = str(tmp_path / "t")
    vt.init_versioned(spark, t)
    for i in range(5):
        vt.commit_append(
            spark, t,
            _mk(spark, [(i * 100 + j, float(j), f"x{i}{j}")
                        for j in range(5)]).coalesce(1),
            stats_cols=["k"], bloom_cols=["k"],
        )
    vt.checkpoint_log(spark, t, format="parquet")
    # post-checkpoint file with blooms, and a DV delete
    vt.commit_append(
        spark, t, _mk(spark, [(1000, 1.0, "p")]).coalesce(1),
        stats_cols=["k"], bloom_cols=["k"],
    )
    vt.commit_delete(spark, t, F.col("k") == 203, mode="dv")

    assert [r["k"] for r in vt.read_point(spark, t, "k", 301).collect()] == [301]
    assert [r["k"] for r in vt.read_point(spark, t, "k", 1000).collect()] == [1000]
    assert vt.read_point(spark, t, "k", 203).count() == 0   # DV held
    assert vt.read_point(spark, t, "k", 777).count() == 0   # absent needle
