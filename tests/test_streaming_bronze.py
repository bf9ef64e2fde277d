"""Bronze landing stream: exactly-once parquet append with date
partitions, including crash-resume via checkpoint."""

import datetime

from gedixr_spark.streaming.bronze import bronze_landing_query
from gedixr_spark.streaming.events import read_event_stream


def _write_batch(spark, d, start_id, day):
    ts = datetime.datetime(2024, 1, day)
    rows = [(start_id + i, ts + datetime.timedelta(minutes=i), 1, "click", 1.0)
            for i in range(5)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    df.write.mode("append").parquet(str(d))
    return df.schema


def test_bronze_landing_partitions_and_resumes(spark, tmp_path):
    landing = tmp_path / "landing"
    out = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    schema = _write_batch(spark, landing, 0, day=1)

    q = bronze_landing_query(
        read_event_stream(spark, str(landing), schema),
        str(out), str(ckpt), available_now=True,
    )
    q.awaitTermination()
    first = spark.read.parquet(str(out))
    assert first.count() == 5
    assert (out / "acq_date=2024-01-01").exists()  # date partitioning

    # new files land; a RESUMED query (same checkpoint) must process
    # only the delta — no duplicates of batch 1
    _write_batch(spark, landing, 100, day=2)
    q2 = bronze_landing_query(
        read_event_stream(spark, str(landing), schema),
        str(out), str(ckpt), available_now=True,
    )
    q2.awaitTermination()
    final = spark.read.parquet(str(out))
    assert final.count() == 10  # 5 + 5, exactly-once
    assert final.select("event_id").distinct().count() == 10
    assert (out / "acq_date=2024-01-02").exists()


def test_bronze_with_metrics_exactly_once_both_sinks(spark, tmp_path):
    """foreachBatch twin-write: data appended + per-batch metrics row,
    both exactly-once across a resume; metrics live in batch=N slots
    so a replayed batch overwrites its own row instead of duplicating."""
    from gedixr_spark.streaming.bronze import bronze_with_metrics_query

    landing = tmp_path / "landing"
    out = tmp_path / "bronze"
    metrics = tmp_path / "metrics"
    ckpt = tmp_path / "ckpt"
    schema = _write_batch(spark, landing, 0, day=1)

    q = bronze_with_metrics_query(
        read_event_stream(spark, str(landing), schema),
        str(out), str(metrics), str(ckpt), available_now=True,
    )
    q.awaitTermination()
    assert spark.read.parquet(str(out)).count() == 5
    m1 = spark.read.parquet(str(metrics))
    assert [(r["n_rows"], r["n_null_ts"]) for r in m1.collect()] == [(5, 0)]

    # delta batch; resumed query processes only the new files and adds
    # exactly one new metrics slot
    _write_batch(spark, landing, 100, day=2)
    q2 = bronze_with_metrics_query(
        read_event_stream(spark, str(landing), schema),
        str(out), str(metrics), str(ckpt), available_now=True,
    )
    q2.awaitTermination()
    final = spark.read.parquet(str(out))
    assert final.count() == 10
    assert final.select("event_id").distinct().count() == 10
    m2 = spark.read.parquet(str(metrics)).orderBy("batch")
    rows = m2.collect()
    assert len(rows) == 2
    assert sum(r["n_rows"] for r in rows) == 10
    # per-batch slots are distinct partitions
    assert len({r["batch"] for r in rows}) == 2


def test_versioned_landing_exactly_once_commits(spark, tmp_path):
    from gedixr_spark.sinks.versioned import (
        init_versioned, read_versioned, table_history,
    )
    from gedixr_spark.streaming.bronze import (
        commit_stream_batch, versioned_landing_query,
    )

    landing = tmp_path / "landing"
    table = str(tmp_path / "vtable")
    ckpt = str(tmp_path / "vckpt")
    init_versioned(spark, table)
    schema = _write_batch(spark, landing, 0, day=1)

    q = versioned_landing_query(
        read_event_stream(spark, str(landing), schema), table, ckpt,
        available_now=True,
    )
    q.awaitTermination()
    assert read_versioned(spark, table).count() == 5
    hist = table_history(spark, table)
    batch_ids = [
        e["meta"].get("stream_batch_id") for e in hist if e["op"] == "append"
    ]
    assert batch_ids and all(b is not None for b in batch_ids)

    # resumed stream processes only the delta (checkpoint) and commits
    # it as its own version
    _write_batch(spark, landing, 100, day=2)
    q2 = versioned_landing_query(
        read_event_stream(spark, str(landing), schema), table, ckpt,
        available_now=True,
    )
    q2.awaitTermination()
    assert read_versioned(spark, table).count() == 10

    # crash-between-commit-and-checkpoint replay: re-running an
    # already-committed batch id is a no-op (the log IS the ledger)
    n_before = len(table_history(spark, table))
    replay = spark.read.parquet(str(landing))
    assert commit_stream_batch(replay, table, batch_ids[0]) is None
    assert len(table_history(spark, table)) == n_before
    assert read_versioned(spark, table).count() == 10


def test_versioned_upsert_stream_cdc(spark, tmp_path):
    import datetime

    from gedixr_spark.sinks.versioned import init_versioned, read_versioned
    from gedixr_spark.streaming.bronze import (
        upsert_stream_batch, versioned_upsert_query,
    )
    from gedixr_spark.streaming.events import read_event_stream

    landing = tmp_path / "cdc"
    table = str(tmp_path / "ctable")
    ckpt = str(tmp_path / "cckpt")
    init_versioned(spark, table)

    # batch 1: two entities; batch 2 updates one and adds one, with an
    # intra-batch double-change for user 1 (last-write-wins by ts)
    t0 = datetime.datetime(2024, 1, 1)
    rows1 = [(1, t0, 1, "a", 1.0), (2, t0, 2, "b", 2.0)]
    rows2 = [
        (1, t0 + datetime.timedelta(hours=1), 1, "mid", 9.0),
        (1, t0 + datetime.timedelta(hours=2), 1, "final", 10.0),
        (3, t0, 3, "c", 3.0),
    ]
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    schema = spark.createDataFrame(rows1, cols).schema
    spark.createDataFrame(rows1, cols).write.mode("append").parquet(str(landing))
    q = versioned_upsert_query(
        read_event_stream(spark, str(landing), schema), table, ckpt,
        keys=["user_id"], order_col="ts", available_now=True,
    )
    q.awaitTermination()
    spark.createDataFrame(rows2, cols).write.mode("append").parquet(str(landing))
    q2 = versioned_upsert_query(
        read_event_stream(spark, str(landing), schema), table, ckpt,
        keys=["user_id"], order_col="ts", available_now=True,
    )
    q2.awaitTermination()
    got = {
        r["user_id"]: r["event_type"]
        for r in read_versioned(spark, table).collect()
    }
    assert got == {1: "final", 2: "b", 3: "c"}

    # replayed batch id → no-op
    from gedixr_spark.sinks.versioned import table_history

    n = len(table_history(spark, table))
    replay = spark.createDataFrame(rows2, cols)
    assert upsert_stream_batch(replay, table, 0, ["user_id"], "ts") is None
    assert len(table_history(spark, table)) == n


def test_versioned_delete_stream_tombstones(spark, tmp_path):
    """The delete half of a CDC feed: streamed tombstone keys remove
    their rows exactly-once (DV mode — no data file rewritten per
    micro-batch), a replayed batch id no-ops, and the periodic purge
    compaction materializes the accumulated deletions."""
    import datetime

    from gedixr_spark.sinks.versioned import (
        commit_append, commit_compact, init_versioned,
        live_delete_vectors, live_files, read_versioned, table_history,
    )
    from gedixr_spark.streaming.bronze import (
        delete_stream_batch, versioned_delete_query,
    )
    from gedixr_spark.streaming.events import read_event_stream

    landing = tmp_path / "tombs"
    table = str(tmp_path / "dtable")
    ckpt = str(tmp_path / "dckpt")
    init_versioned(spark, table)
    t0 = datetime.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [(i, t0, i, "e", float(i)) for i in range(10)],
        ["event_id", "ts", "user_id", "event_type", "value"],
    )
    commit_append(spark, table, base.coalesce(1))
    files_before = sorted(live_files(spark, table))

    tomb_schema = spark.createDataFrame([(1,)], ["user_id"]).schema
    spark.createDataFrame([(2,), (5,)], ["user_id"]).write.mode(
        "append"
    ).parquet(str(landing))
    q = versioned_delete_query(
        read_event_stream(spark, str(landing), tomb_schema), table, ckpt,
        keys=["user_id"], available_now=True,
    )
    q.awaitTermination()
    spark.createDataFrame([(7,)], ["user_id"]).write.mode("append").parquet(
        str(landing)
    )
    q2 = versioned_delete_query(
        read_event_stream(spark, str(landing), tomb_schema), table, ckpt,
        keys=["user_id"], available_now=True,
    )
    q2.awaitTermination()
    got = sorted(r["user_id"] for r in read_versioned(spark, table).collect())
    assert got == [0, 1, 3, 4, 6, 8, 9]
    # DV mode: the data files were never rewritten by the stream
    assert sorted(live_files(spark, table)) == files_before
    assert live_delete_vectors(spark, table)

    # replayed batch id → no-op
    n = len(table_history(spark, table))
    replay = spark.createDataFrame([(2,), (5,)], ["user_id"])
    assert delete_stream_batch(replay, table, 0, ["user_id"]) is None
    assert len(table_history(spark, table)) == n

    # maintenance purge materializes the accumulated tombstones
    commit_compact(spark, table, purge_dvs=True)
    assert live_delete_vectors(spark, table) == {}
    assert sorted(
        r["user_id"] for r in read_versioned(spark, table).collect()
    ) == [0, 1, 3, 4, 6, 8, 9]


def test_commit_delete_keys_both_modes_and_null_tombstones(spark, tmp_path):
    from pyspark.sql import Row

    from gedixr_spark.sinks.versioned import (
        commit_append, commit_delete_keys, init_versioned, read_versioned,
    )

    for mode in ("dv", "cow"):
        path = str(tmp_path / f"k_{mode}")
        init_versioned(spark, path)
        commit_append(
            spark, path,
            spark.createDataFrame(
                [Row(k=i, v=f"v{i}") for i in range(8)]
            ).repartition(2),
        )
        tombs = spark.createDataFrame(
            [Row(k=1), Row(k=5), Row(k=None), Row(k=99)]
        )
        res = commit_delete_keys(spark, path, tombs, keys=["k"], mode=mode)
        assert res["op"] == "delete", mode
        got = sorted(r["k"] for r in read_versioned(spark, path).collect())
        # NULL tombstone matches nothing; absent key 99 is a no-op row
        assert got == [0, 2, 3, 4, 6, 7], mode


def test_tombstone_noop_batch_still_records_ledger(spark, tmp_path):
    """r11 review finding: a tombstone batch matching NOTHING must
    still record its stream_batch_id (metadata-only commit) — else a
    crash-replay after the paired upsert stream inserts the key would
    delete a row whose insert logically followed the tombstone."""
    from pyspark.sql import Row

    from gedixr_spark.sinks.versioned import (
        commit_append, init_versioned, read_versioned,
        seen_stream_batch_ids,
    )
    from gedixr_spark.streaming.bronze import delete_stream_batch

    table = str(tmp_path / "nooptomb")
    init_versioned(spark, table)
    commit_append(
        spark, table, spark.createDataFrame([Row(k=i) for i in range(5)])
    )
    tomb = spark.createDataFrame([Row(k=99)])
    res = delete_stream_batch(tomb, table, 3, ["k"])
    # nothing matched, but the ledger carries the id via the marker
    assert res["meta"]["noop"] is True
    assert 3 in seen_stream_batch_ids(spark, table)
    # key 99 arrives AFTER the tombstone (paired upsert stream)
    commit_append(spark, table, spark.createDataFrame([Row(k=99)]))
    # crash-replay of batch 3: must no-op, NOT delete the newer row
    assert delete_stream_batch(tomb, table, 3, ["k"]) is None
    assert 99 in {r["k"] for r in read_versioned(spark, table).collect()}
