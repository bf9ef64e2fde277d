"""SemDeDup-style semantic dedup (similarity.py): within-cluster
near-dup pairs, survivor policies, differential check vs plain numpy.

Fixture: 3 well-separated clusters in R^8; inside each cluster some
vectors are near-identical copies (cosine > 0.999) and one is a
distinct member (cosine < 0.99 to the copies). Embedding-space dedup
must drop the copies and keep the distinct member — no lexical overlap
needed."""

import numpy as np
import pytest

from gedixr_spark.operators import similarity as sim


def _fixture_rows():
    rng = np.random.default_rng(7)
    bases = rng.standard_normal((3, 8)) * 3.0 + 5.0  # well-separated
    rows = []
    vid = 0
    groups = []  # list of (dup_ids, distinct_id) per cluster
    for b in bases:
        dup_ids = []
        for _ in range(3):  # near-identical copies
            v = b + 0.001 * rng.standard_normal(8)
            rows.append((vid, [float(x) for x in v]))
            dup_ids.append(vid)
            vid += 1
        v = b + 0.8 * rng.standard_normal(8)  # distinct member
        rows.append((vid, [float(x) for x in v]))
        groups.append((dup_ids, vid))
        vid += 1
    return rows, groups


def _numpy_same_cluster_pairs(rows, assign, threshold):
    ids = np.array([r[0] for r in rows])
    m = np.array([r[1] for r in rows])
    q = np.round(m * 1000).astype(np.int64)
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if assign[ids[i]] != assign[ids[j]]:
                continue
            c = (q[i] @ q[j]) / (
                np.sqrt(q[i] @ q[i]) * np.sqrt(q[j] @ q[j])
            )
            if c >= threshold:
                want.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return want


def test_semantic_dedup_pairs_differential_vs_numpy(spark):
    rows, _ = _fixture_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, assigned = sim.kmeans_fit(df, k=3, n_iter=5)
    assign = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    got = {
        (r["id_a"], r["id_b"])
        for r in sim.semantic_dedup_pairs(df, k=3, threshold=0.999).collect()
    }
    want = _numpy_same_cluster_pairs(rows, assign, 0.999)
    assert got == want and len(got) >= 3  # at least the 3 copy-triples


def test_semantic_dedup_min_id_keeps_one_per_dup_group(spark):
    rows, groups = _fixture_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {
        r["vec_id"]
        for r in sim.semantic_dedup(df, k=3, threshold=0.999).collect()
    }
    for dup_ids, distinct_id in groups:
        assert distinct_id in kept  # the non-duplicate always survives
        survivors = kept & set(dup_ids)
        assert survivors == {min(dup_ids)}  # exactly the min id
    assert len(kept) == len(rows) - sum(len(d) - 1 for d, _ in groups)


def test_semantic_dedup_farthest_from_centroid_policy(spark):
    """The paper's diversity policy: among a duplicate component the
    survivor is the member LEAST similar to its cluster centroid —
    verified against the numpy-computed centroid cosines."""
    rows, groups = _fixture_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assigned = sim.kmeans_fit(df, k=3, n_iter=4)
    metric = {
        r["vec_id"]: r["centroid_cosine"]
        for r in sim.centroid_similarity(df, cents, assigned).collect()
    }
    kept = {
        r["vec_id"]
        for r in sim.semantic_dedup(
            df, k=3, threshold=0.999, keep="farthest_from_centroid"
        ).collect()
    }
    for dup_ids, _ in groups:
        survivors = kept & set(dup_ids)
        want = min(dup_ids, key=lambda i: (metric[i], i))
        assert survivors == {want}


def test_semantic_dedup_rejects_unknown_policy(spark):
    rows, _ = _fixture_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="keep must be"):
        sim.semantic_dedup(df, keep="random")


def test_semantic_dedup_no_pairs_is_identity(spark):
    """Distinct vectors only: nothing crosses the threshold, every row
    survives (apply_dedup of an empty loser set)."""
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert sim.semantic_dedup(df, k=3, threshold=0.9999).count() == 12


def test_degenerate_mega_cluster_raises_with_named_alternative(spark):
    """All-identical vectors collapse into one k-means cluster (and
    one LSH sub-bucket — the sub-key can't split identical vectors),
    so the within-cluster join would go quadratic; the max_cluster
    guard must fail loudly naming the remedies instead."""
    rows = [(i, [1.0] * 8) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="sub_bucket_bits"):
        sim.semantic_dedup_pairs(df, k=4, max_cluster=20)
    with pytest.raises(ValueError, match="max_cluster"):
        sim.semantic_dedup(df, k=4, max_cluster=20)
    # identical vectors share every hyperplane sign: sharding cannot
    # split them, and the post-shard count still trips the guard
    with pytest.raises(ValueError, match="max_cluster"):
        sim.semantic_dedup_pairs(df, k=4, max_cluster=20, sub_bucket_bits=4)


def test_sub_bucket_shards_skewed_but_distinct_vectors(spark):
    """Distinct vectors in one hot cluster: LSH sub-bucketing splits
    the occupancy below the cap, and surviving pairs are a subset of
    the unguarded result (recall trade, never false positives)."""
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = {
        (r["id_a"], r["id_b"])
        for r in sim.semantic_dedup_pairs(
            df, k=1, threshold=-1.0, max_cluster=None
        ).collect()
    }
    sharded = {
        (r["id_a"], r["id_b"])
        for r in sim.semantic_dedup_pairs(
            df, k=1, threshold=-1.0, max_cluster=45, sub_bucket_bits=3
        ).collect()
    }
    assert sharded <= full and sharded


def test_empty_input_with_sub_buckets_returns_empty(spark):
    """ADVICE r6: _enforce_cluster_bound with sub_bucket_bits>0 used
    first()["__v"] to learn the dim — None on an empty frame raised
    TypeError instead of the empty result the rest of semantic_dedup
    returns for empty input."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = sim.semantic_dedup_pairs(
        empty, k=2, threshold=0.99, sub_bucket_bits=2
    )
    assert out.count() == 0


def test_prefitted_centroids_identical_to_inline_fit(spark, tmp_path):
    """r6 VERDICT #7: semantic_dedup(centroids=) with a parquet
    round-tripped fit is bit-identical to fitting in-line — for both
    survivor policies (farthest_from_centroid also reuses the matrix
    instead of refitting)."""
    from gedixr_spark.operators.clustering import (
        kmeans_fit,
        load_kmeans_centroids,
        save_kmeans_centroids,
    )

    rows, _ = _fixture_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, _ = kmeans_fit(df, k=3, n_iter=5)
    path = str(tmp_path / "cents.parquet")
    save_kmeans_centroids(spark, cents, path)
    loaded = load_kmeans_centroids(spark, path)
    assert loaded.shape == cents.shape and (loaded == cents).all()

    for keep in ("min_id", "farthest_from_centroid"):
        inline = sorted(
            r["vec_id"]
            for r in sim.semantic_dedup(
                df, k=3, threshold=0.999, n_iter=5, keep=keep
            ).collect()
        )
        pre = sorted(
            r["vec_id"]
            for r in sim.semantic_dedup(
                df, k=3, threshold=0.999, n_iter=5, keep=keep,
                centroids=loaded,
            ).collect()
        )
        assert pre == inline, keep
