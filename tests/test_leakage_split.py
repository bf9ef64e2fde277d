"""leakage_safe_split: near-dup cluster members never straddle a
split boundary, unclustered docs behave exactly like hash_split."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators import dedup
from gedixr_spark.operators.sampling import hash_split, leakage_safe_split


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def clusters(spark):
    # 20 dup pairs (i, i+100), i < 20 → clusters via real CC machinery
    pairs = spark.createDataFrame(
        [(i, i + 100) for i in range(20)], "id_a long, id_b long"
    )
    return dedup.dedup_clusters(pairs)


def test_cluster_members_share_split(corpus, clusters):
    out = leakage_safe_split(corpus, clusters)
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    for i in range(20):
        assert split_of[i] == split_of[i + 100], (i, split_of[i], split_of[i + 100])


def test_no_dup_pair_straddles_any_boundary(corpus, clusters):
    out = leakage_safe_split(
        corpus, clusters, fractions={"train": 0.5, "val": 0.25, "test": 0.25}
    )
    pairs = out.alias("a").join(
        out.alias("b"),
        (F.col("a.doc_id") + 100 == F.col("b.doc_id")) & (F.col("a.doc_id") < 20),
    )
    bad = pairs.filter(F.col("a.split") != F.col("b.split")).count()
    assert bad == 0


def test_unclustered_docs_match_plain_hash_split(corpus, clusters):
    safe = leakage_safe_split(corpus, clusters)
    plain = hash_split(corpus)
    clustered_ids = {r["doc_id"] for r in clusters.collect()}
    s = {r["doc_id"]: r["split"] for r in safe.collect()}
    p = {r["doc_id"]: r["split"] for r in plain.collect()}
    for doc_id in s:
        if doc_id not in clustered_ids:
            assert s[doc_id] == p[doc_id]


def test_columns_and_determinism(corpus, clusters):
    a = leakage_safe_split(corpus, clusters)
    assert "__group_key" not in a.columns and "__cluster_id" not in a.columns
    assert {"doc_id", "text", "bucket", "split"} <= set(a.columns)
    b = leakage_safe_split(corpus, clusters)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_plain_hash_split_does_leak(corpus, clusters):
    """The motivating defect: with independent hashing some dup pair
    lands on different sides (probabilistic, but with 20 pairs at
    50/25/25 the chance all 20 agree is ~(0.375)^-… effectively zero;
    this seed demonstrably leaks)."""
    plain = hash_split(
        corpus, fractions={"train": 0.5, "val": 0.25, "test": 0.25}
    )
    split_of = {r["doc_id"]: r["split"] for r in plain.collect()}
    leaks = sum(split_of[i] != split_of[i + 100] for i in range(20))
    assert leaks > 0


# -------------------------------------------------------- build_eval_set


# --- bottom-k deterministic sample -----------------------------------------


def test_bottomk_deterministic_under_repartition(spark):
    from gedixr_spark.operators.sampling import bottomk_sample

    df = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    a = [r["doc_id"] for r in bottomk_sample(df, 100).collect()]
    b = [
        r["doc_id"]
        for r in bottomk_sample(df.repartition(17), 100).collect()
    ]
    assert sorted(a) == sorted(b)
    assert len(set(a)) == 100


def test_bottomk_is_a_mergeable_sketch(spark):
    """bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B)) — per-shard
    samples combine without rescanning raw data."""
    from gedixr_spark.operators.sampling import bottomk_sample

    df = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    a = df.filter(F.col("doc_id") < 2000)
    b = df.filter(F.col("doc_id") >= 2000)
    direct = {
        r["doc_id"] for r in bottomk_sample(df, 64).collect()
    }
    merged = {
        r["doc_id"]
        for r in bottomk_sample(
            bottomk_sample(a, 64).unionByName(bottomk_sample(b, 64)), 64
        ).collect()
    }
    assert direct == merged


def test_bottomk_plan_avoids_full_sort_shuffle(spark):
    from gedixr_spark.operators.sampling import bottomk_sample

    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    plan = (
        bottomk_sample(df, 10)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_bottomk_validates(spark):
    from gedixr_spark.operators.sampling import bottomk_sample

    df = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="positive"):
        bottomk_sample(df, 0)


def test_leakage_audit_clean_vs_leaky(spark):
    """leakage_safe_split → zero cross-split pairs; a per-doc hash
    split on the same corpus shows straddling pairs (the audit's whole
    point)."""
    from gedixr_spark.operators.sampling import (
        hash_split,
        leakage_audit,
        leakage_safe_split,
    )

    # 40 dup pairs: (2i, 2i+1) are near-dups
    docs = spark.createDataFrame(
        [(i,) for i in range(80)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(40)], "id_a long, id_b long"
    )
    clusters = spark.createDataFrame(
        [(2 * i + off, 2 * i, False) for i in range(40) for off in (0, 1)],
        "doc_id long, cluster_id long, is_survivor boolean",
    )
    clean = leakage_safe_split(docs, clusters)
    audit = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in leakage_audit(clean, pairs).collect()
    }
    cross = {k: v for k, v in audit.items() if k[0] != k[1]}
    assert cross == {}, cross
    assert sum(audit.values()) == 40  # every pair accounted for

    leaky = hash_split(docs)
    audit2 = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in leakage_audit(leaky, pairs).collect()
    }
    assert any(k[0] != k[1] for k in audit2), audit2
