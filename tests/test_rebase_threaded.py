"""r11 VERDICT #6: TRUE-concurrency rebase stress.

test_rebase_and_cdc_view.py stages interleavings sequentially; here N
writer threads race M commits each on ONE table through the real
exclusive-create commit path. Asserted: every logical commit lands
exactly once (history length), no version is skipped or duplicated,
and the final table equals a sequential dict model. A last test has a
second thread watch the session's AQE setting while every commit type
runs: no commit may write session conf another thread can observe.
"""

import threading

from pyspark.sql import Row

from pyspark.sql import functions as F

from gedixr_spark.sinks.versioned import (
    ConcurrentCommitError,
    commit_append,
    commit_compact,
    commit_delete,
    commit_merge,
    commit_upsert,
    init_versioned,
    read_versioned,
    table_history,
)


def test_threaded_appends_all_land_exactly_once(spark, tmp_path):
    """Appends are conflict-free: N threads × M commits race the
    version counter; the internal retry absorbs every collision and
    all N*M commits land."""
    t = str(tmp_path / "app")
    init_versioned(spark, t)
    N, M = 4, 5
    errors = []
    barrier = threading.Barrier(N)

    def writer(w):
        try:
            barrier.wait(timeout=60)
            for j in range(M):
                commit_append(
                    spark, t,
                    spark.createDataFrame(
                        [Row(k=w * 1000 + j, w=w)]
                    ).coalesce(1),
                    max_retries=50,
                )
        except Exception as e:  # surface in the main thread
            errors.append((w, repr(e)))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(N)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors
    hist = table_history(spark, t)
    # exactly N*M data commits, versions gapless 0..N*M
    assert [e["version"] for e in hist] == list(range(N * M + 1))
    assert sum(1 for e in hist if e["op"] == "append") == N * M
    got = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert got == sorted(w * 1000 + j for w in range(N) for j in range(M))


def test_threaded_disjoint_upserts_match_dict_model(spark, tmp_path):
    """N writers upsert DISJOINT key ranges concurrently, retrying on
    real conflicts exactly like a production client. Every logical
    upsert must land exactly once; the final state equals the dict
    model (per-key last write of its owning writer — ownership is
    disjoint so the model is order-free)."""
    t = str(tmp_path / "ups")
    init_versioned(spark, t)
    N, M, KEYS_PER = 3, 4, 4
    # seed: every key present, spread over a few files
    seed = [
        Row(k=w * 100 + i, val=-1)
        for w in range(N)
        for i in range(KEYS_PER)
    ]
    commit_append(spark, t, spark.createDataFrame(seed).repartition(3))
    model = {r.k: -1 for r in seed}
    model_lock = threading.Lock()
    errors = []
    landed = []  # one entry per SUCCESSFUL logical commit
    barrier = threading.Barrier(N)

    def writer(w):
        try:
            barrier.wait(timeout=60)
            for j in range(M):
                key = w * 100 + (j % KEYS_PER)
                val = w * 10_000 + j
                batch = spark.createDataFrame([Row(k=key, val=val)])
                for attempt in range(30):
                    try:
                        commit_upsert(spark, t, batch, keys=["k"])
                        break
                    except ConcurrentCommitError:
                        continue
                else:
                    raise AssertionError(
                        f"writer {w} commit {j} never landed"
                    )
                with model_lock:
                    model[key] = val
                    landed.append((w, j))
        except Exception as e:
            errors.append((w, repr(e)))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(N)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors
    assert len(landed) == N * M
    hist = table_history(spark, t)
    versions = [e["version"] for e in hist]
    # gapless, no duplicates — the exclusive-create admitted exactly
    # one writer per version
    assert versions == list(range(versions[-1] + 1))
    n_upserts = sum(1 for e in hist if e["op"] == "upsert")
    assert n_upserts == N * M
    got = {r["k"]: r["val"] for r in read_versioned(spark, t).collect()}
    assert got == model


def test_commits_leave_session_aqe_setting_untouched(spark, tmp_path):
    """The session conf is shared by every driver thread, so a commit
    that flipped ``spark.sql.adaptive.enabled`` around its own collects
    would plan another thread's data-scale frame without AQE. A poller
    thread reads the setting in a loop while the main thread runs every
    commit type — append (with an expectation), upsert, merge,
    copy-on-write delete, DV delete and compact — on a table with
    stats and bloom columns; the poller must only ever read "true"."""
    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    t = str(tmp_path / "aqe")
    init_versioned(spark, t)
    seen = set()
    n_polls = [0]
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.add(spark.conf.get(key))
            n_polls[0] += 1

    def batch(rows):
        return spark.createDataFrame(
            [Row(k=k, v=f"v{k % 5}") for k in rows]
        ).coalesce(2)

    idx = {"stats_cols": ["k"], "bloom_cols": ["k", "v"]}
    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        commit_append(
            spark, t, batch(range(40)), expect={"not_null": ["k"]}, **idx
        )
        commit_upsert(spark, t, batch(range(30, 50)), keys=["k"], **idx)
        commit_merge(spark, t, batch(range(45, 60)), keys=["k"], **idx)
        commit_delete(spark, t, F.col("k") < 5, stats_cols=["k"])
        commit_delete(spark, t, F.col("k") >= 55, mode="dv")
        commit_compact(spark, t, n_files=1, **idx)
    finally:
        stop.set()
        poller.join(timeout=60)
    assert n_polls[0] > 0
    assert seen == {"true"}, f"poller read {sorted(seen)}"
    got = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert got == list(range(5, 55))
