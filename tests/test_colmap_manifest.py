"""Manifest fast path for COLUMN-MAPPED tables (r14 VERDICT #2):
typed min/max bounds keyed by physical column id, translated from the
queried cap-time logical name — so mature tables that accumulated
renames stop paying driver-side dict pruning. Every scenario asserts
FAST == DICT (same survivors, same totals) and result-level equality
against an unpruned scan; Invariant 13 (bail, never approximate) is
pinned by the pre-colmap-manifest case.

Extension-layer surface (no reference parity)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _vt():
    from gedixr_spark.sinks import versioned as vt
    return vt


def _mk(spark, rows, schema="a long, b long, v string"):
    return spark.createDataFrame(rows, schema)


def _ranged_table(spark, vt, t, n_files=6):
    """One file per commit, disjoint `a` ranges, interleaved `b`."""
    vt.init_versioned(spark, t)
    for i in range(n_files):
        vt.commit_append(
            spark, t,
            _mk(spark, [(i * 100 + j, (j * 7) % 50, f"x{i}{j}")
                        for j in range(5)]).coalesce(1),
            stats_cols=["a", "b"],
        )


def _assert_fast_equals_dict(spark, vt, t, col, cases):
    live = vt.live_files(spark, t)
    stats = vt.file_range_stats(spark, t)
    for lo, hi in cases:
        fast, nf = vt.files_for_range(spark, t, col, lo, hi)
        exact, ne = vt.files_for_range(
            spark, t, col, lo, hi, files=live, stats=stats
        )
        assert sorted(fast) == sorted(exact), (col, lo, hi)
        assert nf == ne


def test_renamed_column_prunes_through_manifest(spark, tmp_path):
    vt = _vt()
    t = str(tmp_path / "t")
    _ranged_table(spark, vt, t)
    vt.rename_column(spark, t, "a", "c")  # activates column mapping
    vt.checkpoint_log(spark, t, format="parquet")
    # post-checkpoint file written under the NEW name
    vt.commit_append(
        spark, t,
        _mk(spark, [(10_000, 1, "post")], "c long, b long, v string")
        .coalesce(1),
        stats_cols=["c", "b"],
    )
    cap = vt.table_history(spark, t)[-1]["version"]
    # the fast path ENGAGES on the mapped table (not a silent bail)
    assert vt._manifest_prune(
        spark, t, {"c": (250, None)}, cap
    ) is not None
    _assert_fast_equals_dict(
        spark, vt, t, "c",
        [(None, None), (0, 150), (250, None), (None, 320), (99_999, None)],
    )
    # and it actually prunes: a selective range keeps < total files
    keep, total = vt.files_for_range(spark, t, "c", 0, 150)
    assert len(keep) < total
    # result-level equality against the unpruned scan
    got = sorted(r["c"] for r in vt.read_where(spark, t, "c", 250, None).collect())
    want = sorted(
        r["c"]
        for r in vt.read_versioned(spark, t).filter(F.col("c") >= 250).collect()
    )
    assert got == want


def test_swapped_columns_prune_on_the_right_physical_stats(spark, tmp_path):
    """The nastiest rename shape: a↔b SWAP after data landed. A prune
    on cap-name `a` must mask the ORIGINAL b's physical stats — a
    name-keyed lookup would prune on the wrong column's min/max."""
    vt = _vt()
    t = str(tmp_path / "t")
    _ranged_table(spark, vt, t)
    vt.rename_column(spark, t, "a", "__tmp")
    vt.rename_column(spark, t, "b", "a")
    vt.rename_column(spark, t, "__tmp", "b")
    vt.checkpoint_log(spark, t, format="parquet")
    cap = vt.table_history(spark, t)[-1]["version"]
    assert vt._manifest_prune(
        spark, t, {"a": (0, 10), "b": (0, 150)}, cap
    ) is not None
    # conjunctive prune: fast == dict
    live = vt.live_files(spark, t)
    stats = vt.file_range_stats(spark, t)
    for ranges in (
        {"a": (0, 10)},                    # old-b values (0..49)
        {"b": (250, None)},                # old-a values (0..599)
        {"a": (0, 10), "b": (0, 150)},
        {"a": (1000, None)},               # impossible for old-b
    ):
        fast, nf = vt.files_for_ranges(spark, t, ranges)
        exact, ne = vt.files_for_ranges(
            spark, t, ranges, files=live, stats=stats
        )
        assert sorted(fast) == sorted(exact), ranges
        assert nf == ne
    # impossible range on swapped `a` (old b ≤ 49) prunes EVERYTHING
    keep, _ = vt.files_for_ranges(spark, t, {"a": (1000, None)})
    assert keep == []
    # result-level equality
    got = sorted(
        (r["a"], r["b"])
        for r in vt.read_where_all(spark, t, {"b": (250, None)}).collect()
    )
    want = sorted(
        (r["a"], r["b"])
        for r in vt.read_versioned(spark, t).filter(F.col("b") >= 250).collect()
    )
    assert got == want


def test_manifest_predating_colmap_bails_to_dict_path(spark, tmp_path):
    """Invariant 13: a manifest written BEFORE the table's first rename
    has name-keyed bounds only — the mapped pruner must BAIL (exact
    dict path), never mask stale name columns."""
    vt = _vt()
    t = str(tmp_path / "t")
    _ranged_table(spark, vt, t)
    vt.checkpoint_log(spark, t, format="parquet")  # pre-colmap manifest
    vt.rename_column(spark, t, "a", "c")
    cap = vt.table_history(spark, t)[-1]["version"]
    assert vt._manifest_prune(
        spark, t, {"c": (0, 150)}, cap
    ) is None
    _assert_fast_equals_dict(spark, vt, t, "c", [(0, 150), (250, None)])
    got = sorted(r["c"] for r in vt.read_where(spark, t, "c", 0, 150).collect())
    want = sorted(
        r["c"]
        for r in vt.read_versioned(spark, t).filter(F.col("c") <= 150).collect()
    )
    assert got == want


def test_point_lookup_through_mapped_manifest(spark, tmp_path):
    vt = _vt()
    t = str(tmp_path / "t")
    vt.init_versioned(spark, t)
    for i in range(5):
        vt.commit_append(
            spark, t,
            _mk(spark, [(i * 100 + j, j, f"x{i}{j}") for j in range(5)])
            .coalesce(1),
            stats_cols=["a"], bloom_cols=["a"],
        )
    vt.rename_column(spark, t, "a", "key")
    vt.checkpoint_log(spark, t, format="parquet")
    keep, total = vt.files_for_point(spark, t, "key", 203)
    assert len(keep) < total  # stats+bloom pruning engaged through ids
    rows = vt.read_point(spark, t, "key", 203).collect()
    assert [r["key"] for r in rows] == [203]
    # absent needle: proves absence without reading everything
    assert vt.read_point(spark, t, "key", 777).count() == 0


def test_added_column_after_mapped_checkpoint(spark, tmp_path):
    """A column added AFTER the mapped manifest: covered files carry no
    bounds for its id (conservatively read); post-checkpoint files
    prune via their write-time stats. Fast == dict throughout."""
    vt = _vt()
    t = str(tmp_path / "t")
    _ranged_table(spark, vt, t, n_files=4)
    vt.rename_column(spark, t, "a", "c")
    vt.checkpoint_log(spark, t, format="parquet")
    vt.add_column(spark, t, "z", "long")
    vt.commit_append(
        spark, t,
        spark.createDataFrame(
            [(9_000 + j, j, "n", j * 10) for j in range(5)],
            "c long, b long, v string, z long",
        ).coalesce(1),
        stats_cols=["c", "z"],
    )
    live = vt.live_files(spark, t)
    stats = vt.file_range_stats(spark, t)
    for ranges in ({"z": (0, 20)}, {"c": (0, 150), "z": (None, 20)}):
        fast, nf = vt.files_for_ranges(spark, t, ranges)
        exact, ne = vt.files_for_ranges(
            spark, t, ranges, files=live, stats=stats
        )
        assert sorted(fast) == sorted(exact), ranges
        assert nf == ne
    got = sorted(
        r["c"] for r in vt.read_where(spark, t, "z", 0, 20).collect()
    )
    want = sorted(
        r["c"]
        for r in vt.read_versioned(spark, t)
        .filter((F.col("z") >= 0) & (F.col("z") <= 20)).collect()
    )
    assert got == want
