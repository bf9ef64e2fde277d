"""Plan-quality regression tests: the scale properties SCALE.md claims
must be visible in the physical plan, not just asserted in prose.
These run against a REAL parquet shot table (not the derived contract
view) so predicate pushdown has a scan to push into."""

import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators.filters import bbox_filter, quality_filter
from gedixr_spark.operators.joins import spatial_join_aoi
from gedixr_spark.sources.vector import aoi_from_wkt


@pytest.fixture(scope="module")
def shots_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "shots")
    rows = [
        (f"{i:018d}", "BEAM0000", float(i % 20 - 10), 40.0 + i % 15, float(i % 3000),
         float(i % 3000) + 10.0, 0, 1, 0.9, 3, i % 6000)
        for i in range(1000)
    ]
    spark.createDataFrame(
        rows,
        ["shot", "beam", "longitude", "latitude", "elev", "elev_dem_tdx",
         "degrade_flag", "quality_flag", "sensitivity", "num_detectedmodes", "rh98"],
    ).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_filter_pushes_down_to_scan(spark, shots_path):
    df = quality_filter(spark.read.parquet(shots_path))
    plan = _plan(df)
    # the flag equalities reach the parquet reader as pushed filters
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "quality_flag" in pushed and "degrade_flag" in pushed


def test_bbox_filter_pushes_down(spark, shots_path):
    df = bbox_filter(spark.read.parquet(shots_path), -5, 42, 5, 50)
    pushed = _plan(df).split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "longitude" in pushed and "latitude" in pushed


def test_projection_prunes_scan_schema(spark, shots_path):
    df = spark.read.parquet(shots_path).select("shot", "rh98")
    plan = _plan(df)
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "rh98" in schema and "sensitivity" not in schema


def test_spatial_join_is_single_scan_with_coarse_pushdown(spark, shots_path):
    aois = aoi_from_wkt(
        spark,
        {"r1": "POLYGON ((0 44, 4 44, 4 46, 0 46, 0 44))",
         "tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))"},
    )
    out = spatial_join_aoi(spark.read.parquet(shots_path), aois)
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1  # one broadcast join, not K scans
    # the coarse envelope prefilter reaches the scan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "Or(" in pushed or "longitude" in pushed


def test_merge_broadcasts_small_dim(spark, shots_path):
    shots = spark.read.parquet(shots_path)
    dim = spark.createDataFrame([("BEAM0000", "coverage")], ["beam", "kind"])
    plan = _plan(shots.join(F.broadcast(dim), "beam"))
    assert "BroadcastHashJoin" in plan


def test_indexed_join_pushes_global_envelope(spark, shots_path):
    """The grid-indexed join prefilters by the GLOBAL AOI envelope —
    one 4-comparison range predicate that reaches the parquet scan at
    any AOI count (per-AOI ORs can't: they grow with the AOI set)."""
    aois = aoi_from_wkt(
        spark,
        {"r1": "POLYGON ((0 44, 4 44, 4 46, 0 46, 0 44))",
         "tri": "POLYGON ((0 44, 6 44, 3 50, 0 44))"},
    )
    df = spatial_join_aoi(spark.read.parquet(shots_path), aois)
    plan = _plan(df)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "longitude" in pushed and "latitude" in pushed


def test_pack_sequences_single_shuffle(spark):
    """Packing must shuffle exactly once (on pack_group) — the
    docs-never-move-twice layout its docstring claims."""
    from gedixr_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, i % 50 + 1) for i in range(200)], ["doc_id", "n_tokens"]
    )
    plan = _plan(pack_sequences(df, budget=64, n_groups=4))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "pack_group" in plan.split("Exchange hashpartitioning", 1)[1].splitlines()[0]


def test_pq_ann_topk_broadcasts_queries(spark):
    """ADC scoring must broadcast the small query side — the corpus
    codes stream through map-side, no sort-merge join, and the raw
    corpus vectors stay out of the join."""
    import numpy as np

    from gedixr_spark.operators import similarity as sim

    rng = np.random.default_rng(9)
    df = spark.createDataFrame(
        [(i, [float(v) for v in rng.standard_normal(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    )
    cbs = sim.pq_codebooks(8, 2, 4, 5)
    plan = _plan(sim.pq_ann_topk(df.filter(F.col("vec_id") < 3), df, k=3, codebooks=cbs))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_materialize_packed_two_shuffles_max(spark):
    """Assembly = the packing shuffle (ids only), the doc_id join —
    whose docs-side exchange is the ONE place document text moves —
    and the (pack_group, seq_id) agg. Nothing beyond those four
    exchanges (no extra sort-merge cascade, text never moves twice)."""
    from gedixr_spark.operators.packing import materialize_packed, pack_sequences

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(300)], ["doc_id", "text"]
    )
    counts = spark.createDataFrame(
        [(i, i % 40 + 1) for i in range(300)], ["doc_id", "n_tokens"]
    )
    out = materialize_packed(pack_sequences(counts, budget=64, n_groups=4), docs)
    plan = _plan(out)
    # pack + join(ids side) + join(text side) + agg
    assert plan.count("Exchange hashpartitioning") <= 4
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_ann_family_plans_are_python_free(spark):
    """r6 pin: the LSH/IVF ANN kernels evaluate as JVM column math —
    zero ArrowEvalPython/BatchEvalPython nodes anywhere in the plans.
    Guards against a regression re-introducing the Python worker hop
    on the ANN hot path."""
    import numpy as np

    from gedixr_spark.operators import similarity as sim

    rng = np.random.default_rng(4)
    df = spark.createDataFrame(
        [(i, [float(v) for v in rng.standard_normal(16)]) for i in range(100)],
        ["vec_id", "embedding"],
    )
    q = df.filter(F.col("vec_id") < 3)
    cbs = sim.pq_codebooks(16, 2, 4, 5)
    cents = sim.ivf_centroids(16, 4, 7)
    plans = [
        _plan(sim.lsh_ann_topk(q, df, k=3, dim=16)),
        _plan(sim.lsh_ann_topk_multitable(q, df, k=3, dim=16, bits=6)),
        _plan(sim.ivf_ann_topk(q, df, k=3, dim=16, nprobe=2)),
        _plan(sim.embedding_neardup_pairs_multitable(df, dim=16, bits=6)),
        # r16: the PQ family joined the JVM side (encode argmin +
        # in-plan ADC LUTs as higher-order array expressions)
        _plan(df.select(sim.pq_codes("embedding", cbs).alias("c"))),
        _plan(sim.pq_ann_topk(q, df, k=3, codebooks=cbs)),
        _plan(
            sim.ivf_pq_ann_topk(
                q, df, k=3, centroids=cents, codebooks=cbs, dim=16, n_cells=4
            )
        ),
    ]
    for plan in plans:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
