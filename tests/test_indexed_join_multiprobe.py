"""Grid-indexed spatial join (one plan at any AOI count)."""

import pyspark.sql.functions as F
import pytest

from gedixr_spark.contract import AOI_WKT, shots_l2a
from gedixr_spark.operators.joins import spatial_join_aoi
from gedixr_spark.operators.similarity import cosine_topk
from gedixr_spark.sources.vector import aoi_from_wkt
from gedixr_spark.testing import intersects_reference


def test_join_matches_pip_reference_on_registry_aois(spark):
    """The join over the registry's rectangle + triangle AOIs returns
    exactly the (shot, AOI) pairs the numpy reference finds. sf0.01: at
    sf0.001 the derived longitudes don't reach the AOIs (partkey
    domain too small) and the join is legitimately ~empty."""
    sf = "/root/testdata/sf0.01"
    shots = shots_l2a(spark, sf).select("shot", "longitude", "latitude").collect()
    xs = [r["longitude"] for r in shots]
    ys = [r["latitude"] for r in shots]
    truth = {
        (r["shot"], name)
        for name, wkt in AOI_WKT.items()
        for r, hit in zip(shots, intersects_reference(xs, ys, wkt))
        if hit
    }
    got = {(r["shot"], r["aoi_name"]) for r in
           spatial_join_aoi(shots_l2a(spark, sf), aoi_from_wkt(spark, AOI_WKT))
           .select("shot", "aoi_name").collect()}
    assert got == truth and len(got) > 0


def test_indexed_join_scales_to_many_aois(spark):
    """300 AOIs — far beyond what per-AOI predicate compilation could
    handle — resolve through one broadcast cell join."""
    sf = "/root/testdata/sf0.001"
    many = {
        f"cell_{i}": (
            f"POLYGON (({x} {y}, {x + 0.9} {y}, {x + 0.9} {y + 0.9}, "
            f"{x} {y + 0.9}, {x} {y}))"
        )
        for i in range(300)
        for x, y in [(-10 + (i % 20), 40 + (i // 20) * 0.75)]
    }
    out = spatial_join_aoi(shots_l2a(spark, sf), aoi_from_wkt(spark, many))
    n = out.count()
    assert n > 0
    # every emitted pair is a true bbox hit
    bad = out.filter(
        ~(F.col("longitude") >= -10) | (F.col("aoi_name") == "")
    ).count()
    assert bad == 0


def test_ivf_nprobe_all_cells_equals_bruteforce(spark):
    from gedixr_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    bf = {(r["query_id"], r["rank"]): r["cand_id"]
          for r in cosine_topk(q, emb, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["cand_id"]
            for r in ivf_ann_topk(q, emb, k=3, n_cells=8, nprobe=8).collect()}
    # probing every cell == exhaustive search
    assert full == bf


def test_ivf_nprobe_monotone_recall(spark):
    from gedixr_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["rank"]): r["cand_id"]
          for r in cosine_topk(q, emb, k=1).collect()}
    one = {(r["query_id"], r["rank"]): r["cand_id"]
           for r in ivf_ann_topk(q, emb, k=1, nprobe=1).collect()}
    three = {(r["query_id"], r["rank"]): r["cand_id"]
             for r in ivf_ann_topk(q, emb, k=1, nprobe=3).collect()}
    r1 = sum(1 for k in bf if one.get(k) == bf[k])
    r3 = sum(1 for k in bf if three.get(k) == bf[k])
    assert r3 >= r1
