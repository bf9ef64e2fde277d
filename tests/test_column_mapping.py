"""Column mapping: RENAME / DROP schema evolution as metadata-only
commits (r11 VERDICT #2 — the Delta column-mapping / Iceberg
column-id shape).

Pinned here:
- rename and drop never touch a data file (history shows empty
  add/remove) and old files read through the mapping;
- time travel shows each version's OWN names;
- a randomized op sequence (append / rename / upsert / drop / append
  re-adding a dropped name) replayed in DuckDB via ALTER TABLE
  RENAME/DROP agrees with read_versioned at every version;
- re-adding a dropped name gets a FRESH column id — old values never
  resurrect;
- table_changes straddling a rename classifies correctly and surfaces
  cap names (keys recorded under old names are translated);
- file-skipping stats recorded under write-time names survive a
  column-name SWAP (the adversarial case for pruning);
- checkpoint + expire_log preserve the mapping; rollback past a
  rename restores the target version's names.
"""

import random

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gedixr_spark.sinks.versioned import (
    checkpoint_log,
    commit_append,
    commit_delete,
    commit_merge,
    commit_upsert,
    drop_column,
    expire_log,
    init_versioned,
    read_versioned,
    read_where,
    rename_column,
    rollback,
    table_changes,
    table_history,
)


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def test_rename_is_metadata_only_and_time_travel_keeps_old_names(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    init_versioned(spark, t)
    commit_append(
        spark, t, spark.createDataFrame([Row(k=i, v=i * 10) for i in range(5)])
    )
    e = rename_column(spark, t, "v", "amount")
    assert e["add"] == [] and e["remove"] == []
    # post-rename read: new name, old files' data intact
    cur = read_versioned(spark, t)
    assert set(cur.columns) == {"k", "amount"}
    assert sorted(r["amount"] for r in cur.collect()) == [0, 10, 20, 30, 40]
    # pre-rename snapshot keeps its own name
    old = read_versioned(spark, t, version=1)
    assert set(old.columns) == {"k", "v"}
    # appends after the rename mix with pre-rename files transparently
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=9, amount=90)]),
    )
    allr = read_versioned(spark, t)
    assert sorted(r["amount"] for r in allr.collect()) == [
        0, 10, 20, 30, 40, 90,
    ]


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t = str(tmp_path / "t2")
    init_versioned(spark, t)
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=1, secret="OLD"), Row(k=2, secret="OLD2")]),
    )
    drop_column(spark, t, "secret")
    assert set(read_versioned(spark, t).columns) == {"k"}
    # re-add the NAME via additive evolution: fresh id, NULL for old rows
    commit_append(
        spark, t, spark.createDataFrame([Row(k=3, secret="NEW")])
    )
    got = {r["k"]: r["secret"] for r in read_versioned(spark, t).collect()}
    assert got == {1: None, 2: None, 3: "NEW"}
    # the pre-drop snapshot still serves the old values
    v1 = {r["k"]: r["secret"] for r in read_versioned(spark, t, version=1).collect()}
    assert v1 == {1: "OLD", 2: "OLD2"}


def test_randomized_history_matches_duckdb_alter_table_replay(spark, tmp_path):
    """Seeded random op walk; DuckDB replays the same ops with real
    ALTER TABLE RENAME/DROP; every version's snapshot must agree."""
    rng = random.Random(12012)
    t = str(tmp_path / "rand")
    init_versioned(spark, t)
    con = duckdb.connect()
    con.execute("CREATE TABLE m (k BIGINT, a BIGINT, b VARCHAR)")
    cols = ["k", "a", "b"]  # current logical schema, k always present
    types = {"k": "long", "a": "long", "b": "string"}
    snaps = []  # (version, sql snapshot rows, cols)
    nid = 100

    def mk(rows, use_cols=None):
        cc = use_cols or cols
        schema = ", ".join(f"{c} {types[c]}" for c in cc)
        return spark.createDataFrame(
            [tuple(r) for r in rows], schema=schema
        )

    def _key(row):
        # NULL-safe sort key (None sorts first, tagged by presence)
        return tuple((v is None, v if v is not None else 0) for v in row)

    def duck_rows():
        q = ", ".join(sorted(cols))
        return sorted(
            (tuple(r) for r in con.execute(f"SELECT {q} FROM m").fetchall()),
            key=_key,
        )

    # v1 seed
    rows = [(i, i * 2, f"s{i}") for i in range(8)]
    commit_append(spark, t, mk(rows))
    con.executemany("INSERT INTO m VALUES (?, ?, ?)", rows)
    ops = ["append", "rename", "upsert", "drop", "readd", "delete",
           "adddef", "widen"]
    for step in range(14):
        op = rng.choice(ops)
        if op == "append":
            new = [(nid + j, rng.randint(0, 99), f"x{nid + j}")
                   for j in range(3)]
            nid += 3
            vals = [
                tuple(v for c, v in zip(["k", "a", "b"], r) if c in cols)
                for r in new
            ]
            # align tuples to current cols: build dicts instead
            recs = []
            for r in new:
                d = dict(zip(["k", "a", "b"], r))
                recs.append(tuple(d.get(c) for c in cols))
            commit_append(spark, t, mk(recs))
            q = ", ".join(cols)
            ph = ", ".join("?" for _ in cols)
            con.executemany(f"INSERT INTO m ({q}) VALUES ({ph})", recs)
        elif op == "rename":
            candidates = [c for c in cols if c != "k"]
            if not candidates:
                continue
            old = rng.choice(candidates)
            new_name = f"{old}_r{step}"
            rename_column(spark, t, old, new_name)
            con.execute(f'ALTER TABLE m RENAME COLUMN "{old}" TO "{new_name}"')
            cols = [new_name if c == old else c for c in cols]
            types[new_name] = types.pop(old)
        elif op == "upsert":
            keys = sorted(
                r[0] for r in con.execute("SELECT k FROM m").fetchall()
            )
            if not keys:
                continue
            pick = rng.sample(keys, min(2, len(keys)))
            recs = []
            for k in pick:
                d = {"k": k}
                for c in cols:
                    if c == "k":
                        continue
                    d[c] = (
                        rng.randint(500, 599)
                        if types[c] in ("long", "int") else f"u{k}"
                    )
                recs.append(tuple(d.get(c) for c in cols))
            commit_upsert(spark, t, mk(recs), keys=["k"])
            for r in recs:
                d = dict(zip(cols, r))
                sets = ", ".join(
                    f'"{c}" = ?' for c in cols if c != "k"
                )
                con.execute(
                    f"UPDATE m SET {sets} WHERE k = ?",
                    [d[c] for c in cols if c != "k"] + [d["k"]],
                )
        elif op == "drop":
            candidates = [c for c in cols if c != "k"]
            if len(candidates) < 1 or len(cols) <= 2:
                continue
            victim = rng.choice(candidates)
            drop_column(spark, t, victim)
            con.execute(f'ALTER TABLE m DROP COLUMN "{victim}"')
            cols = [c for c in cols if c != victim]
        elif op == "readd":
            # added columns land as INT so the widen op below has
            # something to promote (int -> bigint)
            name = f"c{step}"
            recs = []
            cols2 = cols + [name]
            for j in range(2):
                d = {c: None for c in cols2}
                d["k"] = nid
                nid += 1
                d[name] = step
                recs.append(tuple(d.get(c) for c in cols2))
            types[name] = "int"
            df = mk(recs, use_cols=cols2)
            commit_append(spark, t, df)
            dtype = "INTEGER"
            con.execute(f'ALTER TABLE m ADD COLUMN "{name}" {dtype}')
            q = ", ".join(cols2)
            ph = ", ".join("?" for _ in cols2)
            con.executemany(f"INSERT INTO m ({q}) VALUES ({ph})", recs)
            cols = cols2
        elif op == "adddef":
            from gedixr_spark.sinks.versioned import add_column

            name = f"d{step}"
            dv = rng.randint(1, 9)
            add_column(spark, t, name, "long", default=dv)
            con.execute(
                f'ALTER TABLE m ADD COLUMN "{name}" BIGINT DEFAULT {dv}'
            )
            cols = cols + [name]
            types[name] = "long"
        elif op == "widen":
            from gedixr_spark.sinks.versioned import widen_column

            candidates = [c for c in cols if types[c] == "int"]
            if not candidates:
                continue
            victim = rng.choice(candidates)
            widen_column(spark, t, victim, "bigint")
            con.execute(
                f'ALTER TABLE m ALTER COLUMN "{victim}" SET DATA TYPE BIGINT'
            )
            types[victim] = "long"
        elif op == "delete":
            kmax = rng.randint(0, 120)
            mode = rng.choice(["cow", "dv"])
            commit_delete(spark, t, F.col("k") < kmax, mode=mode)
            con.execute("DELETE FROM m WHERE k < ?", [kmax])
        v = table_history(spark, t)[-1]["version"]
        snaps.append((v, duck_rows(), list(cols)))
    # every recorded snapshot must match the Spark read AT that version
    for v, want, vcols in snaps:
        df = read_versioned(spark, t, version=v)
        assert sorted(df.columns) == sorted(vcols), (v, df.columns, vcols)
        got = sorted(
            (tuple(r[c] for c in sorted(vcols)) for r in df.collect()),
            key=_key,
        )
        assert got == want, f"version {v} mismatch"
    con.close()


def test_table_changes_straddling_rename(spark, tmp_path):
    """A CDC range crossing a rename surfaces CAP names throughout,
    translates the old commits' recorded keys, and classifies update
    pairs correctly."""
    t = str(tmp_path / "cdc")
    init_versioned(spark, t)
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]),
    )
    # v2: upsert under the OLD name (meta records keys=['k'])
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=1, v=11)]), keys=["k"]
    )
    rename_column(spark, t, "v", "val")  # v3
    # v4: upsert under the NEW name
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=2, val=22)]), keys=["k"]
    )
    ch = table_changes(spark, t, 0)
    assert set(ch.columns) == {"k", "val", "_change_type", "_commit_version"}
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["val"])
        for r in ch.collect()
    )
    assert got == [
        (1, "insert", 1, 10),
        (1, "insert", 2, 20),
        (2, "update_postimage", 1, 11),
        (2, "update_preimage", 1, 10),
        (4, "update_postimage", 2, 22),
        (4, "update_preimage", 2, 20),
    ]


def test_stats_pruning_survives_column_swap(spark, tmp_path):
    """The adversarial case: two columns SWAP names via a temp rename.
    Old files' stats are recorded under write-time names — a naive
    lookup would prune on the wrong column's min/max and silently drop
    matching rows."""
    t = str(tmp_path / "swap")
    init_versioned(spark, t)
    # lo: small a (0-9), big b (1000-1009); in TWO files with stats
    commit_append(
        spark, t,
        spark.createDataFrame(
            [Row(k=i, a=i, b=1000 + i) for i in range(10)]
        ).coalesce(1),
        stats_cols=["a", "b"],
    )
    commit_append(
        spark, t,
        spark.createDataFrame(
            [Row(k=100 + i, a=500 + i, b=2000 + i) for i in range(10)]
        ).coalesce(1),
        stats_cols=["a", "b"],
    )
    # swap a <-> b
    rename_column(spark, t, "a", "tmp")
    rename_column(spark, t, "b", "a")
    rename_column(spark, t, "tmp", "b")
    # query a (logically the OLD b): 1000..1009 live in file 1 under
    # write-name b; naive pruning would consult file 1's "a" stats
    # (0..9), rule it out, and lose every row
    got = sorted(
        r["k"] for r in read_where(spark, t, "a", 1000, 1009).collect()
    )
    assert got == list(range(10))
    # and the complementary range on b (old a)
    got_b = sorted(
        r["k"] for r in read_where(spark, t, "b", 500, 509).collect()
    )
    assert got_b == list(range(100, 110))


def test_merge_and_compact_through_mapping(spark, tmp_path):
    t = str(tmp_path / "m")
    init_versioned(spark, t)
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=i, v=i) for i in range(6)]).coalesce(2),
    )
    rename_column(spark, t, "v", "val")
    commit_merge(
        spark, t,
        spark.createDataFrame([Row(k=2, val=222), Row(k=99, val=999)]),
        keys=["k"],
        when_matched_update="all",
    )
    got = {r["k"]: r["val"] for r in read_versioned(spark, t).collect()}
    assert got[2] == 222 and got[99] == 999 and got[3] == 3
    from gedixr_spark.sinks.versioned import commit_compact

    commit_compact(spark, t, n_files=1)
    got2 = {r["k"]: r["val"] for r in read_versioned(spark, t).collect()}
    assert got2 == got


def test_checkpoint_and_expire_preserve_mapping(spark, tmp_path):
    t = str(tmp_path / "ck")
    init_versioned(spark, t)
    commit_append(
        spark, t, spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)])
    )
    rename_column(spark, t, "v", "val")
    commit_append(spark, t, spark.createDataFrame([Row(k=3, val=30)]))
    checkpoint_log(spark, t)
    expire_log(spark, t)  # deletes the activation entry
    got = {r["k"]: r["val"] for r in read_versioned(spark, t).collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    # mapping still live for future ops
    rename_column(spark, t, "val", "v2")
    assert set(read_versioned(spark, t).columns) == {"k", "v2"}


def test_rollback_past_rename_restores_names(spark, tmp_path):
    t = str(tmp_path / "rb")
    init_versioned(spark, t)
    commit_append(
        spark, t, spark.createDataFrame([Row(k=1, v=10)])
    )
    rename_column(spark, t, "v", "val")
    commit_append(spark, t, spark.createDataFrame([Row(k=2, val=20)]))
    rollback(spark, t, 1)
    df = read_versioned(spark, t)
    assert set(df.columns) == {"k", "v"}
    assert _rows(df) == [(1, 10)]
    # post-rollback appends under the restored name work
    commit_append(spark, t, spark.createDataFrame([Row(k=5, v=50)]))
    assert _rows(read_versioned(spark, t)) == [(1, 10), (5, 50)]


def test_schema_op_conflicts_rebasing_writers(spark, tmp_path):
    """An interleaved rename invalidates a rebasing writer's schema
    decisions — it must raise, not rebase, like expectations changes."""
    from gedixr_spark.sinks.versioned import ConcurrentCommitError

    t = str(tmp_path / "race")
    init_versioned(spark, t)
    commit_append(
        spark, t, spark.createDataFrame([Row(k=i, v=i) for i in range(4)])
    )
    base = table_history(spark, t)[-1]["version"]
    # a rename lands while our upsert (pinned at base) is in flight
    rename_column(spark, t, "v", "val")
    with pytest.raises((ConcurrentCommitError, Exception)):
        commit_upsert(
            spark, t,
            spark.createDataFrame([Row(k=1, v=100)]),
            keys=["k"], base_version=base,
        )


def test_mapping_free_table_keeps_plain_scan_plan(spark, tmp_path):
    """Zero-cost gate: a table that never renamed/dropped must read
    with a plan BYTE-IDENTICAL to the pre-mapping one — no union, no
    per-epoch grouping, no extra projection (one fs.exists is the only
    overhead, outside the plan)."""
    from gedixr_spark.sinks.versioned import _scan_files, live_files

    t = str(tmp_path / "plain")
    init_versioned(spark, t)
    commit_append(
        spark, t, spark.createDataFrame([Row(k=i, v=i) for i in range(5)])
    )
    files = live_files(spark, t)
    import re

    def norm(plan):
        # strip expression/plan ids (#123, exprId suffixes) — they
        # differ per DataFrame instance while the shape is identical
        return re.sub(r"#\d+", "#x", plan)

    plan_no_cap = norm(
        _scan_files(spark, t, files, {})
        ._jdf.queryExecution().executedPlan().toString()
    )
    plan_cap = norm(
        _scan_files(spark, t, files, {}, cap=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan_no_cap == plan_cap
    assert "Union" not in plan_cap


def test_shallow_clone_of_mapped_source(spark, tmp_path):
    """A clone of a column-mapped source must inherit the id mapping
    AND each external file's exact write-name map — found during r12
    self-review: without the clone-entry override the clone surfaced
    the source files' STALE pre-rename names."""
    from gedixr_spark.sinks.versioned import shallow_clone

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    init_versioned(spark, src)
    commit_append(
        spark, src,
        spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]),
    )
    rename_column(spark, src, "v", "val")
    commit_append(spark, src, spark.createDataFrame([Row(k=3, val=30)]))
    drop_column(spark, src, "k")  # and a drop for good measure
    shallow_clone(spark, src, dst)
    got = sorted(r["val"] for r in read_versioned(spark, dst).collect())
    assert got == [10, 20, 30]
    assert read_versioned(spark, dst).columns == ["val"]
    # the clone is a first-class mapped table: its own upsert + rename
    rename_column(spark, dst, "val", "v2")
    assert sorted(
        r["v2"] for r in read_versioned(spark, dst).collect()
    ) == [10, 20, 30]
    # source untouched
    assert read_versioned(spark, src).columns == ["val"]


def test_rename_validation(spark, tmp_path):
    t = str(tmp_path / "bad")
    init_versioned(spark, t)
    commit_append(spark, t, spark.createDataFrame([Row(k=1, v=2)]))
    with pytest.raises(ValueError):
        rename_column(spark, t, "nope", "x")
    with pytest.raises(ValueError):
        rename_column(spark, t, "v", "k")  # collision
    with pytest.raises(ValueError):
        drop_column(spark, t, "nope")
    drop_column(spark, t, "v")
    with pytest.raises(ValueError):
        drop_column(spark, t, "k")  # last column


def test_schema_ops_interact_with_expectations(spark, tmp_path):
    """Constraints must follow (or block) schema ops: not_null entries
    rename with the column in the same commit; CHECK references refuse
    the rename; any reference refuses a drop."""
    from gedixr_spark.sinks.versioned import (
        commit_append as ca,
        set_table_expectations,
        table_expectations,
    )

    t = str(tmp_path / "expmap")
    init_versioned(spark, t)
    ca(
        spark, t,
        spark.createDataFrame(
            [(1, "a", 5.0)], "id long, name string, bal double"
        ),
    )
    set_table_expectations(
        spark, t, not_null=["name"], checks={"pos_bal": "bal >= 0"}
    )
    # not_null follows the rename atomically
    rename_column(spark, t, "name", "title")
    exp = table_expectations(spark, t)
    assert exp["not_null"] == ["title"]
    with pytest.raises(Exception):
        ca(
            spark, t,
            spark.createDataFrame(
                [(2, None, 1.0)], "id long, title string, bal double"
            ),
        )
    # CHECK-referenced column refuses rename and drop
    with pytest.raises(ValueError, match="CHECK"):
        rename_column(spark, t, "bal", "balance")
    with pytest.raises(ValueError, match="constraint"):
        drop_column(spark, t, "bal")
    with pytest.raises(ValueError, match="constraint"):
        drop_column(spark, t, "title")  # not_null-referenced


def test_add_column_with_default(spark, tmp_path):
    """ADD COLUMN DEFAULT (Delta shape): metadata-only; files written
    BEFORE the add surface the default per-file; files written after
    carry real values including genuine NULL; appends may omit the
    column (they fill the default, SQL INSERT semantics); the default
    follows a rename (id-keyed) and dies with a drop; pre-add
    snapshots don't show the column."""
    from gedixr_spark.sinks.versioned import add_column

    t = str(tmp_path / "dflt")
    init_versioned(spark, t)
    commit_append(
        spark, t, spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)])
    )
    e = add_column(spark, t, "tier", "string", default="bronze")
    assert e["add"] == [] and e["remove"] == []
    got = {r["k"]: r["tier"] for r in read_versioned(spark, t).collect()}
    assert got == {1: "bronze", 2: "bronze"}
    commit_append(
        spark, t,
        spark.createDataFrame(
            [Row(k=3, v=30, tier="gold"), Row(k=4, v=40, tier=None)]
        ),
    )
    commit_append(spark, t, spark.createDataFrame([Row(k=5, v=50)]))
    got = {r["k"]: r["tier"] for r in read_versioned(spark, t).collect()}
    assert got == {1: "bronze", 2: "bronze", 3: "gold", 4: None, 5: "bronze"}
    # default follows rename; upsert through it keeps semantics
    rename_column(spark, t, "tier", "level")
    commit_upsert(
        spark, t,
        spark.createDataFrame([Row(k=1, v=11, level="silver")]),
        keys=["k"],
    )
    got = {r["k"]: r["level"] for r in read_versioned(spark, t).collect()}
    assert got[1] == "silver" and got[2] == "bronze" and got[4] is None
    # pre-add snapshot clean; post-drop clean
    assert "tier" not in read_versioned(spark, t, version=1).columns
    drop_column(spark, t, "level")
    assert set(read_versioned(spark, t).columns) == {"k", "v"}


def test_add_column_default_survives_checkpoint_and_rollback(
    spark, tmp_path
):
    from gedixr_spark.sinks.versioned import add_column

    t = str(tmp_path / "dflt2")
    init_versioned(spark, t)
    commit_append(spark, t, spark.createDataFrame([Row(k=1, v=10)]))
    add_column(spark, t, "w", "long", default=7)          # v2
    commit_append(spark, t, spark.createDataFrame([Row(k=2, v=20, w=99)]))
    checkpoint_log(spark, t)
    expire_log(spark, t)
    got = {r["k"]: r["w"] for r in read_versioned(spark, t).collect()}
    assert got == {1: 7, 2: 99}
    # rollback past the add removes column AND default
    # (fresh table: expiry deleted pre-checkpoint entries above, so
    # exercise rollback on a second table)
    t2 = str(tmp_path / "dflt3")
    init_versioned(spark, t2)
    commit_append(spark, t2, spark.createDataFrame([Row(k=1, v=10)]))
    add_column(spark, t2, "w", "long", default=7)
    commit_append(spark, t2, spark.createDataFrame([Row(k=2, v=20, w=1)]))
    rollback(spark, t2, 1)
    assert set(read_versioned(spark, t2).columns) == {"k", "v"}
    # and re-adding after the rollback starts from a clean default
    add_column(spark, t2, "w", "long", default=5)
    got2 = {r["k"]: r["w"] for r in read_versioned(spark, t2).collect()}
    assert got2 == {1: 5}


def test_add_column_validation(spark, tmp_path):
    from gedixr_spark.sinks.versioned import add_column

    t = str(tmp_path / "dflt4")
    init_versioned(spark, t)
    commit_append(spark, t, spark.createDataFrame([Row(k=1)]))
    with pytest.raises(ValueError, match="already exists"):
        add_column(spark, t, "k", "long")
    with pytest.raises(ValueError, match="JSON-able"):
        add_column(spark, t, "x", "array<long>", default=[1, 2])
    with pytest.raises(ValueError, match="does not fit"):
        add_column(spark, t, "x", "bigint", default="not-a-number")
    with pytest.raises(ValueError, match="does not fit"):
        add_column(spark, t, "x", "string", default=5)
    with pytest.raises(ValueError, match="does not fit"):
        add_column(spark, t, "x", "bigint", default=True)
    # default=None is a plain metadata add: NULL everywhere until set
    add_column(spark, t, "x", "long")
    assert [r["x"] for r in read_versioned(spark, t).collect()] == [None]


def test_table_changes_straddling_defaulted_add(spark, tmp_path):
    """A CDC range crossing ADD COLUMN DEFAULT surfaces cap's schema
    with the default filled for pre-add slices — insert rows from
    before the add must not read as NULL-tier when the snapshot shows
    bronze."""
    from gedixr_spark.sinks.versioned import add_column

    t = str(tmp_path / "cdcdflt")
    init_versioned(spark, t)
    commit_append(spark, t, spark.createDataFrame([Row(k=1, v=10)]))
    add_column(spark, t, "tier", "string", default="bronze")
    commit_append(
        spark, t, spark.createDataFrame([Row(k=2, v=20, tier="gold")])
    )
    commit_delete(spark, t, F.col("k") == 1, mode="dv")
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["tier"])
        for r in table_changes(spark, t, 0).collect()
    )
    assert got == [
        (1, "insert", 1, "bronze"),
        (3, "insert", 2, "gold"),
        (4, "delete", 1, "bronze"),
    ]


def test_mapped_scan_known_schema_path_equals_inference(spark, tmp_path):
    """r15: _scan_mapped gives each uniform file group its recorded
    write schema so the group scan skips the footer read at plan time.
    The fast path must be invisible: rows and schema identical to the
    footer-inference path (ctx['schemas'] withheld), across rename +
    drop + defaulted add + widen + DV-delete history."""
    from gedixr_spark.sinks import versioned as V

    t = str(tmp_path / "ksmap")
    init_versioned(spark, t)
    commit_append(
        spark, t,
        spark.createDataFrame(
            [(i, i * 2, i % 3) for i in range(40)], "k long, v long, w int"
        ),
    )
    rename_column(spark, t, "v", "val")
    commit_upsert(
        spark, t,
        spark.createDataFrame(
            [(i, 999, 7) for i in range(0, 40, 8)], "k long, val long, w int"
        ),
        keys=["k"],
    )
    V.add_column(spark, t, "tier", "string", default="bronze")
    V.widen_column(spark, t, "w", "bigint")
    commit_append(
        spark, t,
        spark.createDataFrame(
            [(i, i, 2**40 + i, "gold") for i in range(100, 110)],
            "k long, val long, w long, tier string",
        ),
    )
    drop_column(spark, t, "val")
    commit_delete(spark, t, F.col("k") % 10 == 1, mode="dv")

    fast = read_versioned(spark, t)
    orig_ctx = V._colmap_context

    def no_schemas(*a, **kw):
        ctx = orig_ctx(*a, **kw)
        if ctx is not None:
            ctx = dict(ctx)
            ctx["schemas"] = {}
        return ctx

    V._colmap_context = no_schemas
    try:
        slow = read_versioned(spark, t)
        assert fast.schema == slow.schema
        assert _rows(fast) == _rows(slow)
    finally:
        V._colmap_context = orig_ctx
    # sanity: the fast path actually fired for at least one group
    calls = []
    orig_parse = V._parse_known_schema
    V._parse_known_schema = lambda sj: calls.append(sj) or orig_parse(sj)
    try:
        read_versioned(spark, t).count()
    finally:
        V._parse_known_schema = orig_parse
    assert calls, "known-schema fast path never fired on a mapped table"
