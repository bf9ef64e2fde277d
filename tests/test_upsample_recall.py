"""upsample_strata (mixture construction) and ann_recall (index tuning
loop) — determinism, expected counts, recall math."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators import similarity as sim
from gedixr_spark.operators.sampling import upsample_strata


def _docs(spark, n=2000):
    return spark.createDataFrame(
        [(i, "books" if i % 3 == 0 else "web") for i in range(n)],
        ["doc_id", "domain"],
    )


def test_upsample_whole_factors(spark):
    df = _docs(spark, 300)
    out = upsample_strata(df, "domain", {"books": 3.0, "web": 1.0})
    counts = {r["domain"]: r["count"] for r in out.groupBy("domain").count().collect()}
    assert counts["books"] == 3 * 100 and counts["web"] == 200
    # copy_n labels replicas 0..factor-1
    copies = {r["copy_n"] for r in out.filter("domain = 'books'").select("copy_n").distinct().collect()}
    assert copies == {0, 1, 2}


def test_upsample_fractional_factor_hits_expectation(spark):
    df = _docs(spark, 3000)
    out = upsample_strata(df, "domain", {"books": 2.5})
    n_books = out.filter("domain = 'books'").count()
    # 1000 books docs × 2.5 → hash-gated, deterministic, within ~2%
    assert abs(n_books - 2500) < 60
    # unlisted stratum keeps factor 1
    assert out.filter("domain = 'web'").count() == 2000
    # deterministic: same call → identical result set
    again = upsample_strata(df, "domain", {"books": 2.5})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_upsample_zero_factor_drops_stratum(spark):
    df = _docs(spark, 30)
    out = upsample_strata(df, "domain", {"books": 0.0})
    assert out.filter("domain = 'books'").count() == 0


def test_upsample_negative_raises(spark):
    with pytest.raises(ValueError):
        upsample_strata(_docs(spark, 3), "domain", {"web": -1.0})


def test_ann_recall_math(spark):
    exact = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (1, 3, 1), (1, 4, 2)],
        ["query_id", "cand_id", "rank"],
    )
    approx = spark.createDataFrame(
        [(0, 1, 1), (0, 9, 2), (1, 3, 1), (1, 4, 2)],
        ["query_id", "cand_id", "rank"],
    )
    rows = {r["query_id"]: r["recall"] for r in sim.ann_recall(approx, exact).collect()}
    assert rows[0] == 0.5 and rows[1] == 1.0 and rows[None] == 0.75


def test_pq_recall_against_brute_force(spark):
    """End-to-end harness wiring: PQ ADC recall vs brute-force cosine
    top-k. Untrained (seeded-random) codebooks scoring an L2 proxy
    against cosine truth is the floor configuration — recall just needs
    to clear chance by a wide margin (chance ≈ k/n ≈ 0.025 here).
    Production recall comes from k-means-trained codebooks; the
    operator accepts them like ivf_ann_topk accepts learned
    centroids."""
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((4, 16)) * 3
    rows = [
        (i, [float(v) for v in centers[i % 4] + rng.standard_normal(16) * 0.3])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)
    cbs = sim.pq_codebooks(16, 4, 16, 13)
    approx = sim.pq_ann_topk(q, df, k=3, codebooks=cbs)
    exact = sim.cosine_topk(q, df, k=3)
    macro = (
        sim.ann_recall(approx, exact).filter(F.col("query_id").isNull()).collect()[0]
    )
    assert macro["recall"] > 0.2  # ≈10× over chance with floor codebooks
