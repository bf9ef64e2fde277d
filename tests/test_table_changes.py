"""Row-level CDC read API (`table_changes`) + its index-maintenance
consumer.

Two laws pin correctness:
1. RECONSTRUCTION: for any (since, to), snapshot(since) ⊎ inserts ⊎
   update_postimages ∖ deletes ∖ update_preimages == snapshot(to) as a
   multiset — checked per-commit and across whole randomized histories.
2. DuckDB REPLAY: the delete/insert/update legs of each commit match a
   closed-form DuckDB replay of the same logical operation.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gedixr_spark.sinks.versioned import (
    commit_append,
    commit_compact,
    commit_delete,
    commit_merge,
    commit_overwrite,
    commit_upsert,
    init_versioned,
    read_versioned,
    rollback,
    table_changes,
)


def _mk(spark, pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs])


def _changes(spark, path, since, to=None):
    out = {}
    for r in table_changes(spark, path, since, to).collect():
        out.setdefault(r["_change_type"], []).append(
            (r["_commit_version"], r["k"], r["v"])
        )
    return {t: sorted(rows) for t, rows in out.items()}


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "cdc")
    init_versioned(spark, path)
    return path


def _assert_reconstructs(spark, path, since, to):
    """Law 1: folding the feed into snapshot(since) gives snapshot(to)."""
    want0 = read_versioned(spark, path, to).select("k", "v")
    try:
        base = read_versioned(spark, path, since).select("k", "v")
    except ValueError:  # since=0: empty table, schema not yet recorded
        base = want0.limit(0)
    ch = table_changes(spark, path, since, to)
    plus = ch.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("k", "v")
    minus = ch.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k", "v")
    recon = base.unionAll(plus).exceptAll(minus)
    want = read_versioned(spark, path, to).select("k", "v")
    assert recon.exceptAll(want).count() == 0
    assert want.exceptAll(recon).count() == 0


def test_append_only_changes_are_inserts(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a"), (2, "b")]))
    commit_append(spark, table, _mk(spark, [(3, "c")]))
    ch = _changes(spark, table, 0)
    assert set(ch) == {"insert"}
    assert ch["insert"] == [(1, 1, "a"), (1, 2, "b"), (2, 3, "c")]
    # windowing: only the second commit
    assert _changes(spark, table, 1) == {"insert": [(2, 3, "c")]}


def test_upsert_classifies_updates_inserts_and_suppresses_passthrough(
    spark, table
):
    commit_append(
        spark, table, _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1)
    )
    # k=1 updated, k=9 inserted; k=2,3 are rewritten pass-through rows
    # (same file) and must emit NOTHING
    commit_upsert(spark, table, _mk(spark, [(1, "A"), (9, "i")]), keys=["k"])
    ch = _changes(spark, table, 1)
    assert ch == {
        "update_preimage": [(2, 1, "a")],
        "update_postimage": [(2, 1, "A")],
        "insert": [(2, 9, "i")],
    }
    _assert_reconstructs(spark, table, 1, 2)


def test_upsert_with_identical_row_emits_nothing(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a")]))
    commit_upsert(spark, table, _mk(spark, [(1, "a")]), keys=["k"])
    assert _changes(spark, table, 1) == {}


def test_delete_modes_emit_identical_delete_rows(spark, tmp_path):
    for mode in ("cow", "dv"):
        path = str(tmp_path / mode)
        init_versioned(spark, path)
        commit_append(
            spark, path,
            _mk(spark, [(i, f"v{i}") for i in range(10)]).repartition(2),
        )
        commit_delete(spark, path, F.col("k") % 3 == 0, mode=mode)
        ch = _changes(spark, path, 1)
        assert set(ch) == {"delete"}, mode
        assert [(k, v) for _, k, v in ch["delete"]] == [
            (0, "v0"), (3, "v3"), (6, "v6"), (9, "v9"),
        ], mode
        _assert_reconstructs(spark, path, 1, 2)


def test_merge_cdc_batch_classifies_all_three(spark, table):
    commit_append(
        spark, table, _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1)
    )
    src = spark.createDataFrame(
        [Row(k=1, v="A", op="U"), Row(k=2, v=None, op="D"),
         Row(k=7, v="n", op="I")]
    )
    commit_merge(
        spark, table, src, keys=["k"],
        when_matched_update={"v": "s.v"},
        update_condition="s.op = 'U'",
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert=False,
    )
    # update/delete-only merge has inserts disabled; do the insert leg
    # via a second merge so all three change types appear in the feed
    commit_merge(
        spark, table, src.filter("op = 'I'").drop("op"), keys=["k"],
        when_matched_update=None,
    )
    ch = _changes(spark, table, 1)
    assert ch["update_preimage"] == [(2, 1, "a")]
    assert ch["update_postimage"] == [(2, 1, "A")]
    assert ch["delete"] == [(2, 2, "b")]
    assert ch["insert"] == [(3, 7, "n")]
    _assert_reconstructs(spark, table, 1, 3)


def test_overwrite_and_rollback_changes(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a"), (2, "b")]))  # v1
    commit_overwrite(spark, table, _mk(spark, [(2, "b"), (3, "c")]))  # v2
    ch = _changes(spark, table, 1, 2)
    # value-level: (2, b) survives the overwrite and cancels
    assert ch == {"delete": [(2, 1, "a")], "insert": [(2, 3, "c")]}
    rollback(spark, table, 1)  # v3
    ch = _changes(spark, table, 2, 3)
    assert ch == {"delete": [(3, 3, "c")], "insert": [(3, 1, "a")]}
    _assert_reconstructs(spark, table, 1, 3)


def test_rollback_over_dv_delete_resurrects_rows_as_inserts(spark, table):
    commit_append(
        spark, table, _mk(spark, [(i, "x") for i in range(6)]).coalesce(1)
    )  # v1
    commit_delete(spark, table, F.col("k") < 2, mode="dv")  # v2
    rollback(spark, table, 1)  # v3: restore_dv={} resurrects k=0,1
    ch = _changes(spark, table, 2, 3)
    assert ch == {"insert": [(3, 0, "x"), (3, 1, "x")]}
    _assert_reconstructs(spark, table, 1, 3)


def test_compaction_is_silent_in_the_feed(spark, table):
    commit_append(spark, table, _mk(spark, [(1, "a")]))
    commit_append(spark, table, _mk(spark, [(2, "b")]))
    commit_compact(spark, table)
    assert _changes(spark, table, 2) == {}
    _assert_reconstructs(spark, table, 0, 3)


def test_randomized_history_feed_matches_duckdb_replay(spark, tmp_path):
    """Law 2 on a random history: per-commit change rows equal a
    closed-form DuckDB diff of the pre/post logical states, and Law 1
    holds over the whole span."""
    rng = random.Random(2311)
    path = str(tmp_path / "rand")
    init_versioned(spark, path)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, v VARCHAR)")
    con.execute("CREATE TABLE snap (ver BIGINT, k BIGINT, v VARCHAR)")
    next_k, ver = 0, 0

    def snapshot():
        con.execute(f"INSERT INTO snap SELECT {ver}, k, v FROM t")

    snapshot()
    for step in range(10):
        op = rng.choice(["append", "dv", "cow", "upsert", "append"])
        if op == "append" or next_k == 0:
            n = rng.randint(4, 25)
            pairs = [(next_k + i, f"s{step}") for i in range(n)]
            next_k += n
            commit_append(
                spark, path, _mk(spark, pairs).repartition(rng.randint(1, 3))
            )
            con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
        elif op in ("dv", "cow"):
            m, r = rng.randint(2, 7), 0
            r = rng.randint(0, m - 1)
            res = commit_delete(spark, path, F.col("k") % m == r, mode=op)
            con.execute(f"DELETE FROM t WHERE k % {m} = {r}")
            if res.get("op") == "noop":
                continue
        else:
            ks = sorted({rng.randrange(next_k) for _ in range(rng.randint(1, 5))})
            pairs = [(k, f"u{step}") for k in ks]
            commit_upsert(spark, path, _mk(spark, pairs), keys=["k"])
            for k, v in pairs:
                hit = con.execute(
                    "SELECT count(*) FROM t WHERE k = ?", [k]
                ).fetchone()[0]
                if hit:
                    con.execute("UPDATE t SET v = ? WHERE k = ?", [v, k])
                else:
                    con.execute("INSERT INTO t VALUES (?, ?)", [k, v])
        ver += 1
        snapshot()
        # per-commit differential: deletes+pres = pre ∖ post,
        # inserts+posts = post ∖ pre (multiset EXCEPT ALL)
        want_minus = sorted(
            con.execute(
                f"""SELECT k, v FROM (SELECT k, v FROM snap WHERE ver={ver-1}
                    EXCEPT ALL SELECT k, v FROM snap WHERE ver={ver})"""
            ).fetchall()
        )
        want_plus = sorted(
            con.execute(
                f"""SELECT k, v FROM (SELECT k, v FROM snap WHERE ver={ver}
                    EXCEPT ALL SELECT k, v FROM snap WHERE ver={ver-1})"""
            ).fetchall()
        )
        ch = table_changes(spark, path, ver - 1, ver).collect()
        got_minus = sorted(
            (r["k"], r["v"]) for r in ch
            if r["_change_type"] in ("delete", "update_preimage")
        )
        got_plus = sorted(
            (r["k"], r["v"]) for r in ch
            if r["_change_type"] in ("insert", "update_postimage")
        )
        assert got_minus == [tuple(r) for r in want_minus], f"step {step} ({op})"
        assert got_plus == [tuple(r) for r in want_plus], f"step {step} ({op})"
    _assert_reconstructs(spark, path, 0, ver)
    _assert_reconstructs(spark, path, ver // 2, ver)
