"""Bloom semi-join pruning + HLL distinct rollups.

Correctness strategy: the Bloom path is EXACT by construction
(prune-then-verify), so it gets a DuckDB differential against a plain
semi-join SQL. HLL estimates are engine-specific, so they get tolerance
checks against exact distinct counts plus a merge-consistency check
(union of daily sketches == sketch of the union, exactly, because HLL
union is lossless at fixed lg_k).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators import sketches as sk


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))


def test_bloom_build_shape_and_nonzero(customer):
    bitset = sk.bloom_build(customer, "c_custkey", m_bits=1 << 12, k=3)
    assert len(bitset) == (1 << 12) >> 6
    assert any(bitset)


def test_bloom_has_no_false_negatives(customer):
    small = customer.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    bitset = sk.bloom_build(small, "c_custkey", m_bits=1 << 14, k=5)
    kept = sk.bloom_filter_rows(small, "c_custkey", bitset, k=5)
    assert kept.count() == small.count()


def test_bloom_prunes_most_nonmembers(orders, customer):
    small = customer.filter(F.col("c_acctbal") > 9900).select("c_custkey")
    n_small = small.count()
    assert n_small > 0
    bitset = sk.bloom_build(small, "c_custkey", m_bits=1 << 17, k=5)
    pruned = sk.bloom_filter_rows(orders, "o_custkey", bitset, k=5)
    exact = orders.join(
        small.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "leftsemi"
    )
    n_pruned, n_exact, n_all = pruned.count(), exact.count(), orders.count()
    # superset of the exact result, but far smaller than the input
    assert n_exact <= n_pruned
    assert n_pruned < n_all * 0.2, (n_pruned, n_all)


def test_bloom_semi_join_matches_duckdb(orders, customer, sf_dir):
    # bloom_semi_join requires the same column name on both sides;
    # rename the small side's key to match the big side's
    small = (
        customer.filter(F.col("c_acctbal") > 8000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    got = (
        sk.bloom_semi_join(orders, small, on="o_custkey")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        .collect()[0]
    )
    want = duckdb.sql(
        f"""
        SELECT count(*) AS n, sum(o_totalprice) AS s,
               min(o_orderkey) AS lo, max(o_orderkey) AS hi
        FROM '{sf_dir}/orders.parquet' o
        WHERE EXISTS (
            SELECT 1 FROM '{sf_dir}/customer.parquet' c
            WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 8000
        )
        """
    ).fetchone()
    assert got["n"] == want[0]
    assert got["s"] == pytest.approx(float(want[1]))
    assert (got["lo"], got["hi"]) == (want[2], want[3])


def test_bloom_filter_is_before_the_exchange(orders, customer):
    """The whole point: the Bloom predicate must run map-side, i.e.
    appear in the plan as a Filter on the scan side, not after a
    shuffle."""
    small = customer.limit(50).select(F.col("c_custkey").alias("o_custkey"))
    plan = sk.bloom_semi_join(orders, small, on="o_custkey")._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scan_idx = next(
        i for i, ln in enumerate(lines) if "orders.parquet" in ln and "Scan" in ln
    )
    # the scan's direct parent (previous tree line) must be the bloom
    # Filter — i.e. the predicate runs map-side on the scan output, not
    # above some exchange
    assert "Filter" in lines[scan_idx - 1] and "xxhash64" in lines[scan_idx - 1], plan
    # and with a broadcastable small side, the big branch (join → scan)
    # must contain no Exchange at all
    join_idx = next(i for i, ln in enumerate(lines) if "Join" in ln)
    big_branch = lines[join_idx + 1 : scan_idx]
    assert not any("Exchange" in ln for ln in big_branch), plan


def test_bloom_param_validation(customer):
    with pytest.raises(ValueError, match="power of two"):
        sk.bloom_build(customer, "c_custkey", m_bits=1000)
    with pytest.raises(ValueError, match="k must be"):
        sk.bloom_build(customer, "c_custkey", k=0)
    with pytest.raises(ValueError, match="too large"):
        sk.bloom_build(customer, "c_custkey", m_bits=1 << 30)


def test_bloom_inexact_mode_is_superset(orders, customer):
    small = customer.limit(100).select(F.col("c_custkey").alias("o_custkey"))
    approx = sk.bloom_semi_join(orders, small, on="o_custkey", exact=False)
    exact = sk.bloom_semi_join(orders, small, on="o_custkey", exact=True)
    assert approx.count() >= exact.count()


# ---------------------------------------------------------------- HLL


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def test_hll_estimate_within_tolerance(events):
    per_day = sk.distinct_sketches(
        events.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    est = sk.with_estimates(per_day)
    exact = (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact"))
    )
    rows = est.join(exact, "day").collect()
    assert rows
    for r in rows:
        assert r["distinct_est"] == pytest.approx(r["exact"], rel=0.05)


def test_hll_rollup_matches_direct_sketch(events):
    """Union of per-day sketches must equal the single corpus-level
    sketch exactly — mergeability is the property the persistence story
    rests on."""
    per_day = sk.distinct_sketches(
        events.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    rolled = sk.with_estimates(sk.merge_distinct_sketches(per_day, [])).collect()[0]
    direct = sk.with_estimates(sk.distinct_sketches(events, [], "user_id")).collect()[0]
    assert rolled["distinct_est"] == direct["distinct_est"]


def test_hll_sketches_persist_roundtrip(events, tmp_path):
    per_day = sk.distinct_sketches(
        events.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    path = str(tmp_path / "sketches.parquet")
    per_day.write.parquet(path)
    reloaded = events.sparkSession.read.parquet(path)
    a = sk.with_estimates(sk.merge_distinct_sketches(reloaded, [])).collect()[0]
    b = sk.with_estimates(sk.merge_distinct_sketches(per_day, [])).collect()[0]
    assert a["distinct_est"] == b["distinct_est"]


def test_incremental_sketch_store_equals_direct(events, tmp_path):
    """Day-by-day incremental store maintenance must equal sketching
    the whole corpus directly — HLL union is lossless at fixed lg_k,
    and the update path never re-reads history rows."""
    e = events.withColumn("day", F.to_date("ts"))
    days = sorted(r["day"] for r in e.select("day").distinct().collect())
    assert len(days) >= 2
    first, rest = days[0], days[1:]
    store = sk.distinct_sketches(e.filter(F.col("day") == first), ["day"], "user_id")
    for d in rest:
        store = sk.update_sketch_store(
            store, e.filter(F.col("day") == d), ["day"], "user_id"
        )
    inc = {
        r["day"]: r["distinct_est"] for r in sk.with_estimates(store).collect()
    }
    direct = {
        r["day"]: r["distinct_est"]
        for r in sk.with_estimates(sk.distinct_sketches(e, ["day"], "user_id")).collect()
    }
    assert inc == direct


def test_bloom_semi_join_null_keys_behave_like_semijoin(spark):
    """NULL keys never match an equi-join; the bloom path must agree
    (null hash → null position → predicate null → filtered)."""
    big = spark.createDataFrame([(1,), (None,), (2,)], "key long")
    small = spark.createDataFrame([(1,), (None,)], "key long")
    got = sorted(
        r["key"] for r in sk.bloom_semi_join(big, small, on="key").collect()
    )
    want = sorted(
        r["key"] for r in big.join(small, "key", "leftsemi").collect()
    )
    assert got == want == [1]


# --- count-min sketch ------------------------------------------------------


# --- KMV quantile sketches -------------------------------------------------


def test_quantile_estimates_within_rank_tolerance(events):
    """Sample-quantile estimate lands within a few rank percentiles of
    the exact percentile (k=512 → ~4.4% rank stderr; assert 10%)."""
    ev = events.limit(30000).select(
        "event_id", F.col("value").cast("double").alias("v")
    ).withColumn("g", F.lit(1)).cache()
    sketch = sk.quantile_sketches(ev, ["g"], "v", id_col="event_id", k=512)
    est = sk.quantile_estimates(sketch, [0.5, 0.9]).collect()[0]
    n = ev.count()
    ranks = {
        q: ev.filter(F.col("v") <= est[f"p{tag}"]).count() / n
        for q, tag in [(0.5, "5"), (0.9, "9")]
    }
    for q, r in ranks.items():
        assert abs(r - q) < 0.10, (q, r)
    ev.unpersist()


def test_quantile_sketch_validates(spark):
    df = spark.range(10).select(
        F.col("id").alias("i"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(ValueError, match="k must be"):
        sk.quantile_sketches(df, [], "v", id_col="i", k=4)
    s = sk.quantile_sketches(df.withColumn("g", F.lit(1)), ["g"], "v", id_col="i")
    with pytest.raises(ValueError, match="fractions"):
        sk.quantile_estimates(s, [1.5])


# --- join advisor ----------------------------------------------------------


# --- KMV distinct sketch: set-operation estimates (r6) ----------------------
