"""Product quantization (similarity.py PQ family): encode determinism,
exact ADC distances, packed-code range, and ADC-vs-reference parity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators import similarity as sim


def _emb_df(spark, n=40, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(v) for v in rng.standard_normal(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _reference_codes_and_dist(vecs, qv, codebooks):
    """Plain-numpy PQ encode + ADC — the semantics the Spark kernels
    must reproduce exactly (all int64)."""
    cbs = [np.asarray(cb, dtype=np.int64) for cb in codebooks]
    q10 = np.round(np.asarray(qv) * 1000).astype(np.int64) * 10
    dists = {}
    for vid, v in vecs:
        v10 = np.round(np.asarray(v) * 1000).astype(np.int64) * 10
        total, ofs = 0, 0
        for cb in cbs:
            dsub = cb.shape[1]
            sub = v10[ofs : ofs + dsub]
            code = int(np.argmin(((cb - sub) ** 2).sum(axis=1)))
            total += int(((q10[ofs : ofs + dsub] - cb[code]) ** 2).sum())
            ofs += dsub
        dists[vid] = total
    return dists


def test_pq_codebooks_shape_and_determinism():
    a = sim.pq_codebooks(64, 2, 16, 13)
    b = sim.pq_codebooks(64, 2, 16, 13)
    assert a == b
    assert len(a) == 2 and len(a[0]) == 16 and len(a[0][0]) == 32
    with pytest.raises(ValueError):
        sim.pq_codebooks(dim=10, m=3)


def test_pq_codes_match_reference(spark):
    cbs = sim.pq_codebooks(8, 2, 4, 5)
    df = _emb_df(spark, n=30, dim=8)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in df.select(
            "vec_id", sim.pq_codes("embedding", cbs).alias("codes")
        ).collect()
    }
    cbs_np = [np.asarray(cb, dtype=np.int64) for cb in cbs]
    for r in df.collect():
        v10 = np.round(np.asarray(r["embedding"]) * 1000).astype(np.int64) * 10
        want, ofs = [], 0
        for cb in cbs_np:
            dsub = cb.shape[1]
            want.append(int(np.argmin(((cb - v10[ofs : ofs + dsub]) ** 2).sum(axis=1))))
            ofs += dsub
        assert got[r["vec_id"]] == want


def test_pq_code_packed_range(spark):
    cbs = sim.pq_codebooks(8, 2, 4, 5)
    df = _emb_df(spark, n=30, dim=8)
    vals = [
        r[0]
        for r in df.select(sim.pq_code_packed("embedding", cbs)).collect()
    ]
    assert all(0 <= v < 16 for v in vals)  # 2 subspaces × 4 codes → 0..15


def test_pq_ann_topk_exact_adc(spark):
    cbs = sim.pq_codebooks(8, 2, 4, 5)
    df = _emb_df(spark, n=25, dim=8)
    out = sim.pq_ann_topk(df.filter(F.col("vec_id") == 0), df, k=5, codebooks=cbs)
    rows = {r["cand_id"]: (r["approx_dist"], r["rank"]) for r in out.collect()}

    data = [(r["vec_id"], r["embedding"]) for r in df.collect()]
    qv = dict(data)[0]
    ref = _reference_codes_and_dist([d for d in data if d[0] != 0], qv, cbs)
    want_top = sorted(ref.items(), key=lambda kv: (kv[1], kv[0]))[:5]
    assert [(cid, d) for cid, (d, _) in sorted(rows.items(), key=lambda kv: kv[1][1])] == want_top


def test_ivf_pq_exact_reference(spark):
    """IVF-PQ ADC must equal the plain-numpy reference: assign cell,
    exact-int residual, PQ-encode residual, ADC against the query's
    residual in the same cell."""
    from pyspark.sql import functions as F

    from gedixr_spark.operators.similarity import (
        _pq_adc_dist,
        _pq_assign,
        ivf_centroids,
        ivf_pq_ann_topk,
        pq_codebooks,
    )

    dim, cells_n = 8, 4
    df = _emb_df(spark, n=40, dim=dim, seed=11)
    cen = np.asarray(ivf_centroids(dim, cells_n, seed=7), dtype=np.int64)
    cbs_l = pq_codebooks(dim, 2, 4, 5)
    cbs = [np.asarray(cb, dtype=np.int64) for cb in cbs_l]

    out = ivf_pq_ann_topk(
        df.filter(F.col("vec_id") == 0), df, k=40,
        centroids=cen.tolist(), codebooks=cbs_l, dim=dim, n_cells=cells_n,
    ).collect()

    # numpy reference
    data = {r["vec_id"]: np.round(np.asarray(r["embedding"]) * 1000).astype(np.int64) * 10
            for r in df.collect()}

    def cell_of(v10):
        return int(np.argmax(v10 @ cen.T))

    q10 = data[0]
    qcell = cell_of(q10)
    qres = (q10 - cen[qcell])[None, :]
    want = {}
    for vid, v10 in data.items():
        if vid == 0 or cell_of(v10) != qcell:
            continue
        res = (v10 - cen[qcell])[None, :]
        codes = _pq_assign(res, cbs)
        want[vid] = int(_pq_adc_dist(qres, codes, cbs)[0])
    got = {r["cand_id"]: r["approx_dist"] for r in out}
    assert got == want and len(want) > 0


def test_ivf_pq_nprobe_superset(spark):
    """Raising nprobe can only add candidates (cells are disjoint)."""
    from pyspark.sql import functions as F

    from gedixr_spark.operators.similarity import ivf_pq_ann_topk

    df = _emb_df(spark, n=60, dim=8, seed=2)
    q = df.filter(F.col("vec_id") < 3)
    kw = dict(dim=8, n_cells=4, codebooks=None)
    one = {(r["query_id"], r["cand_id"])
           for r in ivf_pq_ann_topk(q, df, k=60, nprobe=1, **{k: v for k, v in kw.items() if v is not None}).collect()}
    two = {(r["query_id"], r["cand_id"])
           for r in ivf_pq_ann_topk(q, df, k=60, nprobe=2, **{k: v for k, v in kw.items() if v is not None}).collect()}
    assert one <= two and len(two) > len(one)


def test_pq_scale_must_divide_codebook_scale(spark):
    """ADVICE r4: non-default scale used to silently mis-scale ADC; now
    the lift is derived (10000//scale) and non-divisors error."""
    from gedixr_spark.operators.similarity import _pq_lift

    assert _pq_lift(1000) == 10
    assert _pq_lift(2500) == 4
    assert _pq_lift(10_000) == 1
    for bad in (0, -5, 300, 20_000):
        with pytest.raises(ValueError, match="divisor"):
            _pq_lift(bad)
