"""r11 VERDICT #3: table_changes long-range hygiene.

A streaming table accumulates hundreds of small append commits between
CDC reads; the feed must coalesce each RUN of consecutive appends into
ONE scan leg (per-row versions via a broadcast file→version join), not
one scan per commit — and the tf-index maintainer must pin the feed it
fans out three ways.
"""

from pyspark.sql import Row
from pyspark.sql import functions as F

from gedixr_spark.sinks.versioned import (
    commit_append,
    commit_delete,
    commit_upsert,
    init_versioned,
    table_changes,
)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_fifty_append_range_plans_o1_scan_legs(spark, tmp_path):
    t = str(tmp_path / "many")
    init_versioned(spark, t)
    for i in range(50):
        commit_append(
            spark, t, spark.createDataFrame([Row(k=i, v=i * 10)])
        )
    ch = table_changes(spark, t, 0)
    rows = ch.collect()
    # correctness first: every append surfaces as ONE insert tagged
    # with ITS commit version
    got = sorted((r["_commit_version"], r["k"]) for r in rows)
    assert got == [(i + 1, i) for i in range(50)]
    assert {r["_change_type"] for r in rows} == {"insert"}
    # the 50-commit range must plan O(1) parquet scan legs: one data
    # scan (+ one tiny broadcast map build which is a LocalTableScan,
    # not a parquet scan)
    n_scans = _plan(ch).count("Scan parquet")
    assert n_scans <= 2, f"expected O(1) scan legs, planned {n_scans}"


def test_append_runs_split_by_other_ops_keep_exact_semantics(spark, tmp_path):
    """Appends before and after an upsert/delete coalesce per-run; the
    feed's content is identical to the uncoalesced per-commit shape."""
    t = str(tmp_path / "mixed")
    init_versioned(spark, t)
    commit_append(spark, t, spark.createDataFrame([Row(k=1, v=10)]))   # v1
    commit_append(spark, t, spark.createDataFrame([Row(k=2, v=20)]))   # v2
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=1, v=11)]), keys=["k"]
    )                                                                  # v3
    commit_append(spark, t, spark.createDataFrame([Row(k=3, v=30)]))   # v4
    commit_append(spark, t, spark.createDataFrame([Row(k=4, v=40)]))   # v5
    commit_delete(spark, t, F.col("k") == 2, mode="dv")                # v6
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in table_changes(spark, t, 0).collect()
    )
    assert got == [
        (1, "insert", 1, 10),
        (2, "insert", 2, 20),
        (3, "update_postimage", 1, 11),
        (3, "update_preimage", 1, 10),
        (4, "insert", 3, 30),
        (5, "insert", 4, 40),
        (6, "delete", 2, 20),
    ]
    # and the run BEFORE the upsert used the DV-free pre-delete state:
    # v1/v2 inserts show the rows as inserted even though k=2 was
    # later DV-deleted (the flush uses the run-end DV snapshot)
    early = sorted(
        (r["_commit_version"], r["k"])
        for r in table_changes(spark, t, 0, version=2).collect()
    )
    assert early == [(1, 1), (2, 2)]


def test_fifty_upsert_range_plans_bounded_scan_legs(spark, tmp_path):
    """r12 VERDICT #3: a catch-up range of N same-keyed DV-free upserts
    must coalesce into ONE scan + ONE counting diff (bounded plan), and
    the coalesced feed must be EXACTLY the per-commit feed: one
    update_preimage/update_postimage pair per commit, each tagged with
    its own version."""
    t = str(tmp_path / "many_upserts")
    init_versioned(spark, t)
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=i, val=i * 10) for i in range(4)]),
    )  # v1
    n = 50
    for i in range(n):
        commit_upsert(
            spark, t,
            spark.createDataFrame([Row(k=1, val=100 + i)]),
            keys=["k"],
        )  # v2..v51
    ch = table_changes(spark, t, 1)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["val"])
        for r in ch.collect()
    )
    expected = []
    for i in range(n):
        v = i + 2
        old = 10 if i == 0 else 100 + i - 1
        expected.append((v, "update_postimage", 1, 100 + i))
        expected.append((v, "update_preimage", 1, old))
    assert rows == sorted(expected)
    # plan audit: the 50 counting-diff legs collapse to O(1) parquet
    # scans (+ a LocalTableScan for the broadcast role map)
    n_scans = _plan(ch).count("Scan parquet")
    assert n_scans <= 3, f"expected O(1) scan legs, planned {n_scans}"


def test_mixed_churn_runs_stay_exact(spark, tmp_path):
    """Runs broken by key-signature changes (keyed upserts around a
    keyless CoW delete) coalesce per-run and remain value-exact."""
    t = str(tmp_path / "mixed_churn")
    init_versioned(spark, t)
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=i, val=i * 10) for i in range(4)]),
    )  # v1
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=1, val=111)]), keys=["k"]
    )  # v2
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=2, val=222)]), keys=["k"]
    )  # v3
    commit_delete(spark, t, F.col("k") == 3, mode="cow")  # v4 (keyless)
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=0, val=1)]), keys=["k"]
    )  # v5
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["val"])
        for r in table_changes(spark, t, 1).collect()
    )
    assert got == [
        (2, "update_postimage", 1, 111),
        (2, "update_preimage", 1, 10),
        (3, "update_postimage", 2, 222),
        (3, "update_preimage", 2, 20),
        (4, "delete", 3, 30),
        (5, "update_postimage", 0, 1),
        (5, "update_preimage", 0, 0),
    ]


def test_consumer_loop_over_200_commit_backlog_is_bounded(spark, tmp_path):
    """The default-bounded poll (max_versions=64): a consumer that fell
    200 commits behind drains in ceil(200/64)=4 cycles, each cycle's
    plan O(1) scan legs — never one giant unbounded diff."""
    from gedixr_spark.sinks.cursor import commit_cursor, next_changes

    t = str(tmp_path / "backlog200")
    init_versioned(spark, t)
    batches = [
        spark.createDataFrame([Row(k=i, val=i)]) for i in range(4)
    ]
    for i in range(200):
        commit_append(spark, t, batches[i % 4])
    cycles, seen = 0, 0
    while True:
        batch = next_changes(spark, t, "lagger")
        if batch["changes"] is None:
            break
        assert batch["to_version"] - batch["from_version"] <= 64
        n_scans = _plan(batch["changes"]).count("Scan parquet")
        assert n_scans <= 2, f"cycle {cycles}: {n_scans} scan legs"
        seen += batch["changes"].count()
        commit_cursor(spark, t, "lagger", batch["to_version"])
        cycles += 1
    assert cycles == 4
    assert seen == 200


def test_untouched_dv_does_not_break_diff_coalescing(spark, tmp_path):
    """A live DV in a corner of the table the churn run never touches
    must not force per-version legs: the run's DV state is constant,
    so one shared snapshot is exact for both diff sides."""
    t = str(tmp_path / "dv_corner")
    init_versioned(spark, t)
    # two disjoint key regions in separate files
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=i, val=i * 10) for i in range(4)])
        .repartition(1),
    )  # v1: file A (k 0..3)
    commit_append(
        spark, t,
        spark.createDataFrame([Row(k=i, val=i * 10) for i in range(100, 104)])
        .repartition(1),
    )  # v2: file B (k 100..103)
    commit_delete(spark, t, F.col("k") == 101, mode="dv")  # v3: DV on B
    # churn run on file A only — B's DV is live but untouched
    for i in range(8):
        commit_upsert(
            spark, t,
            spark.createDataFrame([Row(k=1, val=1000 + i)]),
            keys=["k"],
        )  # v4..v11
    ch = table_changes(spark, t, 3)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["val"])
        for r in ch.collect()
    )
    expected = []
    for i in range(8):
        v = i + 4
        old = 10 if i == 0 else 1000 + i - 1
        expected.append((v, "update_postimage", 1, 1000 + i))
        expected.append((v, "update_preimage", 1, old))
    assert rows == sorted(expected)
    # the 8 upserts coalesce: O(1) scan legs despite the live DV
    n_scans = _plan(ch).count("Scan parquet")
    assert n_scans <= 3, f"expected coalesced legs, planned {n_scans}"
    # and a run that DOES hit the DV'd file falls back exactly: the
    # rewrite materializes the deletion, so k=101 must NOT resurrect
    commit_upsert(
        spark, t, spark.createDataFrame([Row(k=100, val=9)]), keys=["k"]
    )  # v12 rewrites file B through its DV
    got = sorted(
        (r["_change_type"], r["k"], r["val"])
        for r in table_changes(spark, t, 11).collect()
    )
    assert got == [
        ("update_postimage", 100, 9),
        ("update_preimage", 100, 1000),
    ]
