"""Similarity-search + event-time operator tests (§7.4 extensions)."""

import datetime

from pyspark.sql import functions as F

from gedixr_spark.operators import events, similarity


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0, 0.0], 0),   # ~same direction as 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),     # opposite of 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_cosine_topk_orders_by_similarity(spark):
    out = similarity.cosine_topk(
        _emb(spark).filter(F.col("vec_id") == 0), _emb(spark), k=3
    ).collect()
    ranked = [r["cand_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1  # nearest
    assert ranked[-1] == 3  # opposite direction last
    assert all(r["query_id"] == 0 for r in out)


def test_cosine_topk_excludes_self(spark):
    out = similarity.cosine_topk(_emb(spark), _emb(spark), k=10).collect()
    assert all(r["query_id"] != r["cand_id"] for r in out)


def test_lsh_bucket_groups_similar_vectors(spark):
    planes = similarity.hyperplanes(4, 6, seed=7)
    df = _emb(spark).select(
        "vec_id", similarity.lsh_bucket("embedding", planes).alias("bucket")
    )
    b = {r["vec_id"]: r["bucket"] for r in df.collect()}
    assert b[0] == b[1]  # near-identical directions share all sign bits
    assert b[0] != b[3]  # opposite vectors flip every plane


def test_embedding_neardup_pairs(spark):
    out = similarity.embedding_neardup_pairs(
        _emb(spark), threshold=0.99, n_planes=6, dim=4, seed=7
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}


TS0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark):
    def t(minutes):
        return TS0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions (gap 45 min > 30)
        (1, t(0), 1, "click", 1.0),
        (2, t(10), 1, "view", 2.0),
        (3, t(55), 1, "click", 3.0),
        # user 2: one session
        (4, t(5), 2, "view", 4.0),
        (5, t(20), 2, "view", 5.0),
    ]
    return spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )


def test_sessionize_gap_semantics(spark):
    out = events.sessionize(_events(spark), gap_minutes=30).collect()
    s = {r["event_id"]: r["session_n"] for r in out}
    assert s[1] == s[2] == 1 and s[3] == 2  # 45-min gap starts session 2
    assert s[4] == s[5] == 1


def test_session_stats(spark):
    out = events.session_stats(_events(spark), gap_minutes=30).collect()
    by_key = {(r["user_id"], r["session_n"]): r for r in out}
    assert by_key[(1, 1)]["n_events"] == 2
    assert by_key[(1, 1)]["duration_s"] == 600.0
    assert by_key[(1, 2)]["n_events"] == 1
    assert by_key[(2, 1)]["sum_value"] == 9.0


def test_sliding_agg_two_buckets_per_event(spark):
    out = events.sliding_agg(_events(spark)).collect()
    # every event lands in its hour and the previous hour
    assert sum(r["n_events"] for r in out) == 10


def test_top_users(spark):
    out = events.top_users_by_activity(_events(spark), k=1).collect()
    assert len(out) == 1 and out[0]["user_id"] == 1 and out[0]["n_events"] == 3


# ---------------------------------------------------------------------------
# As-of join / interval join
# ---------------------------------------------------------------------------


def _ts(minute, hour=12, day=1):
    return datetime.datetime(2024, 1, day, hour, minute)


def test_asof_join_strict_vs_inclusive_tie(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), 7), (2, _ts(20), 7)], ["event_id", "ts", "user_id"]
    )
    right = spark.createDataFrame(
        [(7, _ts(10), 100.0), (7, _ts(15), 200.0)], ["user_id", "ts", "v"]
    )
    strict = {
        r["event_id"]: r["asof_v"]
        for r in events.asof_join(left, right, strict=True).collect()
    }
    # at equal ts the right row is invisible under strict <
    assert strict[1] is None and strict[2] == 200.0
    incl = {
        r["event_id"]: r["asof_v"]
        for r in events.asof_join(left, right, strict=False).collect()
    }
    assert incl[1] == 100.0 and incl[2] == 200.0


def test_asof_join_tolerance(spark):
    """merge_asof-style tolerance: a match older than tolerance_s nulls
    out (exact boundary: a gap of exactly tolerance_s still matches)."""
    left = spark.createDataFrame(
        [(1, _ts(10), 7), (2, _ts(40), 7)], ["event_id", "ts", "user_id"]
    )
    right = spark.createDataFrame(
        [(7, _ts(5), 100.0)], ["user_id", "ts", "v"]
    )
    # gaps: 5 min and 35 min
    got = {
        r["event_id"]: r["asof_v"]
        for r in events.asof_join(left, right, tolerance_s=300).collect()
    }
    assert got[1] == 100.0 and got[2] is None
    # exactly-at-tolerance still matches (<=, not <)
    at_edge = {
        r["event_id"]: r["asof_v"]
        for r in events.asof_join(left, right, tolerance_s=35 * 60).collect()
    }
    assert at_edge[2] == 100.0
    import pytest

    with pytest.raises(ValueError):
        events.asof_join(left, right, tolerance_s=-1)


def test_asof_join_no_earlier_right_is_null(spark):
    left = spark.createDataFrame([(1, _ts(5), 7)], ["event_id", "ts", "user_id"])
    right = spark.createDataFrame([(7, _ts(30), 1.0)], ["user_id", "ts", "v"])
    (row,) = events.asof_join(left, right).collect()
    assert row["asof_ts"] is None and row["asof_v"] is None


def test_asof_join_keys_do_not_cross(spark):
    left = spark.createDataFrame([(1, _ts(30), 8)], ["event_id", "ts", "user_id"])
    right = spark.createDataFrame([(7, _ts(10), 1.0)], ["user_id", "ts", "v"])
    (row,) = events.asof_join(left, right).collect()
    assert row["asof_v"] is None


def test_asof_join_picks_whole_row_atomically(spark):
    # the matched right row carries a NULL payload column: per-column
    # last(ignorenulls) would reach back to the older row for that
    # column; the struct formulation must not
    left = spark.createDataFrame([(1, _ts(30), 7)], ["event_id", "ts", "user_id"])
    right = spark.createDataFrame(
        [(7, _ts(10), 1.0, "old"), (7, _ts(20), None, "new")],
        ["user_id", "ts", "v", "tag"],
    )
    (row,) = events.asof_join(left, right).collect()
    assert row["asof_tag"] == "new" and row["asof_v"] is None


def test_interval_join_boundary_semantics(spark):
    fact = spark.createDataFrame(
        [(1, _ts(0)), (2, _ts(30)), (3, _ts(59)), (4, _ts(0, hour=13))],
        ["event_id", "ts"],
    )
    iv = spark.createDataFrame(
        [(100, _ts(0), _ts(0, hour=13))], ["iid", "start_ts", "end_ts"]
    )
    got = {
        r["event_id"]
        for r in events.interval_join(fact, iv, bucket_minutes=15).collect()
    }
    # start inclusive, end exclusive; interval spans 4 buckets at 15 min
    assert got == {1, 2, 3}


def test_interval_join_matches_exactly_once_across_buckets(spark):
    fact = spark.createDataFrame([(1, _ts(7))], ["event_id", "ts"])
    iv = spark.createDataFrame(
        [(100, _ts(0), _ts(0, hour=14))], ["iid", "start_ts", "end_ts"]
    )
    rows = events.interval_join(fact, iv, bucket_minutes=5).collect()
    assert len(rows) == 1  # interval exploded to 24 buckets, joined once


def test_interval_join_pre_epoch_floor(spark):
    t0 = datetime.datetime(1969, 12, 31, 23, 50)
    t1 = datetime.datetime(1970, 1, 1, 0, 10)
    fact = spark.createDataFrame([(1, datetime.datetime(1969, 12, 31, 23, 55))],
                                 ["event_id", "ts"])
    iv = spark.createDataFrame([(100, t0, t1)], ["iid", "start_ts", "end_ts"])
    rows = events.interval_join(fact, iv, bucket_minutes=30).collect()
    assert len(rows) == 1  # negative-epoch bucket floors, not truncates


def test_rollup_agg_grains_consistent(spark):
    out = events.rollup_agg(_events(spark)).collect()
    by_lvl = {}
    for r in out:
        by_lvl.setdefault(r["lvl"], []).append(r)
    # grand total row aggregates everything
    (total,) = by_lvl[7]
    assert total["n_events"] == 5 and total["n_users"] == 2
    assert total["day"] is None and total["event_type"] is None
    # finest grain sums to the same count; hour grain = lvl 1
    assert sum(r["n_events"] for r in by_lvl[0]) == 5
    assert sum(r["n_events"] for r in by_lvl[1]) == 5
    # n_users is NOT additive across grains (distinct) — check directly
    assert {r["n_users"] for r in by_lvl[3]} == {2}


def test_asof_join_differential_vs_pandas_merge_asof(spark):
    """Differential anchor: on randomized keys/timestamps, asof_join
    (strict=False, with and without tolerance) must agree row-for-row
    with pandas.merge_asof(by=key, direction='backward') — an
    independent reference implementation, not our own oracle."""
    import random

    import pandas as pd

    rng = random.Random(42)
    base = datetime.datetime(2024, 3, 1)
    lrows = [
        (i, base + datetime.timedelta(seconds=rng.randrange(0, 3600)), rng.randrange(4))
        for i in range(120)
    ]
    # unique (key, ts) on the right, as asof_join requires
    seen = set()
    rrows = []
    for j in range(80):
        key, s = rng.randrange(4), rng.randrange(0, 3600)
        if (key, s) in seen:
            continue
        seen.add((key, s))
        rrows.append((key, base + datetime.timedelta(seconds=s), float(j)))

    left = spark.createDataFrame(lrows, ["event_id", "ts", "user_id"])
    right = spark.createDataFrame(rrows, ["user_id", "ts", "v"])

    lpd = pd.DataFrame(lrows, columns=["event_id", "ts", "user_id"]).sort_values("ts", kind="mergesort")
    rpd = pd.DataFrame(rrows, columns=["user_id", "ts", "v"]).sort_values("ts", kind="mergesort")

    for tol in (None, 600):
        got = {
            r["event_id"]: r["asof_v"]
            for r in events.asof_join(left, right, strict=False, tolerance_s=tol).collect()
        }
        want_df = pd.merge_asof(
            lpd, rpd, on="ts", by="user_id", direction="backward",
            tolerance=(pd.Timedelta(seconds=tol) if tol else None),
        )
        want = {
            int(r.event_id): (None if pd.isna(r.v) else float(r.v))
            for r in want_df.itertuples()
        }
        assert got == want, f"tolerance={tol}"


def test_sessionize_differential_vs_pandas(spark):
    """Third opinion on the r3 parity bug's operator: sessionize must
    agree with an independent pandas lag+cumsum implementation on
    randomized event streams, including gaps landing EXACTLY on the
    30-minute boundary (> semantics, not >=)."""
    import random

    import pandas as pd

    rng = random.Random(7)
    base = datetime.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for user in range(5):
        t = 0
        for _ in range(40):
            # mix of sub-gap, exactly-at-gap (1800 s), and super-gap steps
            t += rng.choice([60, 900, 1800, 1801, 7200])
            rows.append((eid, base + datetime.timedelta(seconds=t), user))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    got = {
        r["event_id"]: r["session_n"]
        for r in events.sessionize(df).collect()
    }

    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"]).sort_values(
        ["user_id", "ts", "event_id"], kind="mergesort"
    )
    gap = pdf.groupby("user_id")["ts"].diff().dt.total_seconds()
    is_new = (gap.isna() | (gap > 1800)).astype(int)
    pdf["session_n"] = is_new.groupby(pdf["user_id"]).cumsum()
    want = dict(zip(pdf["event_id"], pdf["session_n"]))
    assert got == want
    # a gap of exactly 1800 s must NOT start a new session anywhere
    assert any(g == 1800.0 for g in gap.dropna()), "fixture must hit the boundary"


# ---------------------------------------------------------------------------
# asof_join_bucketed — the hot-key variant (VERDICT r4 item #7)
# ---------------------------------------------------------------------------


def test_asof_bucketed_equivalence_randomized_hot_key(spark):
    """asof_join_bucketed must match asof_join exactly on data with a
    pathological hot key, across strict/inclusive and several bucket
    widths (including widths that slice the hot key's history into
    many buckets, exercising carry-in across empty buckets)."""
    import random

    rng = random.Random(1234)
    # hot key 7: 200 rows; cold keys: a handful each
    left_rows, right_rows = [], []
    eid = 0
    for key, n_l, n_r in [(7, 200, 120), (1, 5, 3), (2, 4, 0), (3, 0, 6)]:
        for _ in range(n_l):
            left_rows.append(
                (eid, datetime.datetime(2024, 1, 1, 0, 0, 0)
                 + datetime.timedelta(seconds=rng.randint(0, 86_400)), key)
            )
            eid += 1
        seen = set()
        for _ in range(n_r):
            s = rng.randint(0, 86_400)
            while (key, s) in seen:
                s = rng.randint(0, 86_400)
            seen.add((key, s))
            right_rows.append(
                (key, datetime.datetime(2024, 1, 1, 0, 0, 0)
                 + datetime.timedelta(seconds=s), float(s))
            )
    left = spark.createDataFrame(left_rows, ["event_id", "ts", "user_id"])
    right = spark.createDataFrame(right_rows, ["user_id", "ts", "v"])

    for strict in (True, False):
        want = sorted(
            map(tuple, events.asof_join(left, right, strict=strict).collect())
        )
        for bucket_s in (600, 3600, 7 * 86_400):
            got = sorted(
                map(
                    tuple,
                    events.asof_join_bucketed(
                        left, right, bucket_s=bucket_s, strict=strict
                    ).collect(),
                )
            )
            assert got == want, (strict, bucket_s)


def test_asof_bucketed_boundary_and_tie_semantics(spark):
    """Right row EXACTLY at a bucket boundary belongs to the new bucket
    (floor); equal-ts tie rules must hold within a bucket; carry-in
    must serve a left row in a much later bucket."""
    b = datetime.datetime(2024, 1, 1, 1, 0, 0)  # exactly at 3600s bucket edge
    left = spark.createDataFrame(
        [
            (1, b, 7),                                     # ts == right ts
            (2, datetime.datetime(2024, 1, 1, 9, 30, 0), 7),  # hours later
        ],
        ["event_id", "ts", "user_id"],
    )
    right = spark.createDataFrame([(7, b, 100.0)], ["user_id", "ts", "v"])
    strict = {
        r["event_id"]: r["asof_v"]
        for r in events.asof_join_bucketed(left, right, 3600, strict=True).collect()
    }
    assert strict[1] is None and strict[2] == 100.0  # carry-in across buckets
    incl = {
        r["event_id"]: r["asof_v"]
        for r in events.asof_join_bucketed(left, right, 3600, strict=False).collect()
    }
    assert incl[1] == 100.0 and incl[2] == 100.0


def test_asof_bucketed_tolerance_checks_real_carry_ts(spark):
    """tolerance_s must be evaluated against the carried row's REAL
    timestamp, not the bucket edge: a carry from hours ago is nulled
    under a tight tolerance even though it is the latest match."""
    left = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 9, 0, 30), 7)],
        ["event_id", "ts", "user_id"],
    )
    right = spark.createDataFrame(
        [(7, datetime.datetime(2024, 1, 1, 1, 0, 0), 100.0)],
        ["user_id", "ts", "v"],
    )
    (with_tol,) = events.asof_join_bucketed(
        left, right, 3600, tolerance_s=300
    ).collect()
    assert with_tol["asof_v"] is None
    (no_tol,) = events.asof_join_bucketed(left, right, 3600).collect()
    assert no_tol["asof_v"] == 100.0
    import pytest

    with pytest.raises(ValueError):
        events.asof_join_bucketed(left, right, bucket_s=0)


def test_asof_bucketed_partitions_by_key_and_bucket(spark):
    """The point of the variant: the big window pass must partition on
    (key, bucket), not key alone — visible in the physical plan."""
    left = spark.createDataFrame(
        [(1, _ts(10), 7)], ["event_id", "ts", "user_id"]
    )
    right = spark.createDataFrame([(7, _ts(5), 1.0)], ["user_id", "ts", "v"])
    plan = (
        events.asof_join_bucketed(left, right, 600)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(user_id" in plan and "__bucket" in plan


def test_ann_kernels_match_numpy_reference(spark):
    """Every codegen ANN kernel matches a numpy reference on the same
    rows, bit for bit: LSH buckets (sign bits packed LSB-first), IVF
    cells (first max dot), probe orders (stable descending dot), the
    multi-table buckets and PQ codes (first min squared L2 at the
    codebook scale). All exact int64 over the engine's own quantized
    vectors."""
    import numpy as np

    rng = np.random.default_rng(123)
    rows = [
        (i, [float(x) for x in rng.standard_normal(64)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = similarity.hyperplanes(64, 8, 42)
    cents = similarity.ivf_centroids(64, 8, 7)
    tables = similarity.hyperplane_tables(64, 2, 6, 42)
    cbs = similarity.pq_codebooks(64, 2, 16, 13)
    got = df.select(
        "vec_id",
        similarity.quantize("embedding").alias("q"),
        similarity.pq_codes("embedding", cbs).alias("pq"),
        similarity.lsh_bucket("embedding", planes).alias("b"),
        similarity.ivf_cell("embedding", cents).alias("c"),
        similarity.ivf_probe_cells("embedding", cents, nprobe=3).alias("p"),
        similarity.lsh_table_buckets("embedding", tables).alias("t"),
    ).collect()
    q = np.asarray([r["q"] for r in got], dtype=np.int64)

    def buckets(pl):
        bits = q @ np.asarray(pl, dtype=np.int64).T > 0
        return bits @ (2 ** np.arange(len(pl)))

    dots = q @ np.asarray(cents, dtype=np.int64).T
    lift = 10_000 // 1000  # codebook scale / quantize scale
    codes, ofs = [], 0
    for cb in (np.asarray(c, dtype=np.int64) for c in cbs):
        sub = q[:, ofs : ofs + cb.shape[1]] * lift
        ofs += cb.shape[1]
        codes.append(np.argmin(((sub[:, None, :] - cb[None]) ** 2).sum(-1), axis=1))
    want = {
        "pq": np.stack(codes, axis=1).tolist(),
        "b": buckets(planes).tolist(),
        "c": np.argmax(dots, axis=1).tolist(),
        "p": np.argsort(-dots, axis=1, kind="stable")[:, :3].tolist(),
        "t": [
            [(t, int(v)) for t, v in enumerate(row)]
            for row in np.stack([buckets(tb) for tb in tables], axis=1)
        ],
    }
    assert [list(r["pq"]) for r in got] == want["pq"]
    assert [r["b"] for r in got] == want["b"]
    assert [r["c"] for r in got] == want["c"]
    assert [list(r["p"]) for r in got] == want["p"]
    assert [[(s["tbl"], s["bucket"]) for s in r["t"]] for r in got] == want["t"]
