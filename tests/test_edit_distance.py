"""FastSS deletion-neighborhood edit-distance join: completeness vs a
brute-force DuckDB levenshtein differential, guards, and variant math."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators.dedup import (
    deletion_variants,
    edit_distance_pairs,
)


def _pairs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_deletion_variants_k1(spark):
    got = (
        spark.range(1)
        .select(deletion_variants(F.lit("Abc "), 1).alias("v"))
        .collect()[0]["v"]
    )
    # normalized 'abc' + one-deletion neighborhood
    assert sorted(got) == ["ab", "abc", "ac", "bc"]


def test_edit_distance_pairs_matches_bruteforce(spark):
    rows = [
        (1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "mitten"),
        (5, "flour"), (6, "flower"), (7, "flou"), (8, "FLOUR  "),
        (9, "x"), (10, ""), (11, "y"),
    ]
    for k in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_pairs(
                _pairs_df(spark, rows), max_dist=k
            ).collect()
        }
        want = set()
        norm = lambda t: " ".join(t.lower().split())
        for i, (ia, ta) in enumerate(rows):
            for ib, tb in rows[i + 1:]:
                d = duckdb.sql(
                    f"SELECT levenshtein('{norm(ta)}', '{norm(tb)}')"
                ).fetchone()[0]
                if d <= k:
                    want.add((ia, ib, d))
        assert got == want, f"k={k}: {got ^ want}"


def test_completeness_no_false_negatives_k2(spark):
    # every string within distance 2 of 'abcde' must be found
    variants = ["abcde", "abde", "abc", "zbcde", "abzde", "abcdez", "vwxyz"]
    rows = [(i, v) for i, v in enumerate(variants)]
    got = {
        (r["id_a"], r["id_b"])
        for r in edit_distance_pairs(_pairs_df(spark, rows), max_dist=2).collect()
    }
    # (0, j) pairs: all but vwxyz are within 2 of abcde
    assert {(0, j) for j in (1, 2, 3, 4, 5)} <= got
    assert not any(6 in p for p in got)


def test_max_len_guard_names_alternative(spark):
    rows = [(1, "a" * 100), (2, "b")]
    # Guard is in-plan (r6 VERDICT #5): composing the DataFrame fires
    # NO Spark job; the raise happens at action time.
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "edguard-compose")
    try:
        lazy = edit_distance_pairs(_pairs_df(spark, rows), max_dist=1)
        fired = sc.statusTracker().getJobIdsForGroup("edguard-compose")
        assert list(fired) == [], f"composition fired Spark jobs: {fired}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    with pytest.raises(Exception, match="minhash_lsh_neardup"):
        lazy.collect()
    # raised deliberately: works
    out = edit_distance_pairs(_pairs_df(spark, rows), max_dist=1, max_len=128)
    assert out.count() == 0


def test_bad_max_dist_rejected(spark):
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs(_pairs_df(spark, [(1, "a")]), max_dist=3)
