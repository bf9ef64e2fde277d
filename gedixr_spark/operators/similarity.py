"""Similarity search over embedding columns (SURVEY.md §7.4).

Two paths:
- cosine_topk: brute-force top-k — the correctness baseline. Broadcast
  the (small) query set, score every corpus row, rank per query. One
  scan, no shuffle of the corpus beyond the final per-query top-k.
- lsh_ann_topk: the scale path — random-hyperplane LSH buckets; only
  candidates sharing a bucket are scored. Hyperplanes come from a
  seeded RNG so plans are reproducible and the SQL oracle can embed
  the same plane literals.

Determinism: float dot products are summation-order-sensitive, so the
oracle-checked path QUANTIZES embeddings (round(e*scale) as int).
Integer dot products are exact under any order; the final cosine is a
single IEEE division of exact inputs — bit-identical in both engines.
(Int8-style quantization is also the realistic thing to do to 100 TB
of embeddings.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gedixr_spark.operators.clustering import kmeans_fit


def quantize(col: Column | str, scale: int = 1000) -> Column:
    """array<float> → array<int> via round(e*scale): exact-arithmetic
    embedding representation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))


def dot(a: Column, b: Column) -> Column:
    """Order-stable fold dot product (exact when inputs are integers)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v)


def dot_double(a: Column, b: Column) -> Column:
    """Float dot product (left fold). Fast path when oracle parity
    isn't required."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_q(a: Column, b: Column) -> Column:
    """Cosine over quantized vectors: exact int dot / sqrt(int)·sqrt(int)."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _topk_per_query(
    scored: DataFrame,
    order_cols: list,
    k: int,
    out_cols: list,
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed per-query top-k, bit-identical to a single
    per-query window but never sorting corpus-scale data in one task:
    a lone `Window.partitionBy(query_id)` funnels every scored row of
    a query into ONE task — the 100 TB non-starter for flat/ADC scans
    where the scored set is the corpus. Phase A ranks within
    (physical input partition × query) so every core sorts only its
    own slice and keeps ≤ k per group (the global top-k is a subset of
    the survivors for ANY one-of grouping — per-group ranks can only
    under-count); phase B's per-query window runs over
    ≤ n_partitions·k survivor rows. Deterministic ties (callers always
    end ``order_cols`` with cand_id) make the result independent of
    the grouping and of task retries changing spark_partition_id."""
    wa = Window.partitionBy("__part", "query_id").orderBy(*order_cols)
    wb = Window.partitionBy("query_id").orderBy(*order_cols)
    partial = (
        scored.withColumn("__part", F.spark_partition_id())
        .withColumn("__pr", F.row_number().over(wa))
        .filter(F.col("__pr") <= k)
        .drop("__part", "__pr")
    )
    return (
        partial.withColumn(rank_col, F.row_number().over(wb))
        .filter(F.col(rank_col) <= k)
        .select(*out_cols)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding itself), deterministic tie-break on id.

    Plan shape: broadcast(queries) × corpus → per-query rank. The
    corpus is scanned once; the only shuffle is the window's
    partition-by-query (tiny: |queries|·k rows after AQE)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col, scale).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), quantize(vec_col, scale).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cosine_q(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    return _topk_per_query(
        scored,
        [F.desc("cosine"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "cosine", "rank"],
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[int]]:
    """Seeded random hyperplanes, INTEGER-scaled (×10000): with the
    quantized vectors, every projection is an exact int64 dot product —
    the sign (the LSH bit) is identical under ANY summation order, so
    a BLAS matmul, a SQL sum, and a fold all agree bit-for-bit."""
    rng = np.random.default_rng(seed)
    return [
        [int(round(float(v) * 10000)) for v in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def _lit_mat(rows: list[list[int]]) -> Column:
    """An integer weight matrix as ONE array<array<bigint>> plan
    constant, built from a single SQL string. Why not lit()/array():
    per-element construction ships rows·dim values over Py4J one
    round-trip each (even ``F.lit(nested_list)`` does — py4j's
    ListConverter appends element-wise), measured at ~0.7 s of driver
    time per ≈10³-element matrix; one parsed expr is ~1 ms and yields
    one Literal node for analysis + every Catalyst pass, not a deep
    CreateArray tree."""
    inner = ",".join(
        "array(" + ",".join(f"{int(w)}L" for w in r) + ")" for r in rows
    )
    return F.expr(f"array({inner})")


def _lit_fmat(rows: list[list[float]]) -> Column:
    """Float twin of `_lit_mat`: array<array<double>> plan constant
    from one parsed expr (repr() round-trips doubles exactly; the D
    suffix pins the SQL literal type)."""
    inner = ",".join(
        "array(" + ",".join(f"{float(w)!r}D" for w in r) + ")" for r in rows
    )
    return F.expr(f"array({inner})")


def lsh_bucket(
    vec_col: Column | str,
    planes: list[list[int]],
    scale: int = 1000,
) -> Column:
    """Random-hyperplane signature: bit i = sign(q · plane_i), packed
    into an int. All arithmetic is exact int64 (|q|≤~1000·64 terms
    ·10⁴ ≈ 2^40 per plane), so the result is bit-exact under any
    summation order. Evaluates inside whole-stage codegen — no Arrow
    hop, no Python worker pool; the signature stays fused with the
    scan/join it feeds."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    qv = quantize(c, scale)
    # ONE transform over a 2-D plane literal instead of n_planes
    # unrolled folds: the expression tree is O(1) in n_planes, which
    # keeps plan build (Py4J) + analysis time flat — at 2000-row bench
    # scale those dominated the query (~2.5 s of driver time)
    bits = F.transform(
        _lit_mat(planes),
        lambda p: F.when(dot(qv, p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    # pack bit i with weight 2^i: fold MSB-first as acc*2 + bit
    return F.aggregate(
        F.reverse(bits), F.lit(0), lambda acc, v: acc * 2 + v
    ).cast("int")


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only candidates in the query's LSH bucket.
    Join on the bucket id (equi-join, broadcastable) instead of a cross
    join — at 1000 executors this is the difference between |Q|·|C|
    and |Q|·|C|/2^planes comparisons. Recall < 1 by construction; use
    more hash tables (`lsh_ann_topk_multitable`) for more."""
    planes = hyperplanes(dim, n_planes, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col, scale).alias("qv"),
        lsh_bucket(vec_col, planes, scale).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        quantize(vec_col, scale).alias("cv"),
        lsh_bucket(vec_col, planes, scale).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cosine_q(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    return _topk_per_query(
        scored,
        [F.desc("cosine"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "cosine", "rank"],
    )


def ivf_centroids(dim: int, n_cells: int = 8, seed: int = 7) -> list[list[int]]:
    """Deterministic IVF 'centroids': seeded random directions,
    integer-scaled (×10000) like the LSH planes, so cell assignment is
    exact integer math. A real deployment would k-means these; fixed
    seeded centroids keep the operator reproducible and oracle-checkable
    (the partitioning quality differs, the plan shape doesn't)."""
    rng = np.random.default_rng(seed)
    return [
        [int(round(float(v) * 10000)) for v in rng.standard_normal(dim)]
        for _ in range(n_cells)
    ]


def kmeans_to_ivf_centroids(centroids, scale: int = 10_000) -> list[list[int]]:
    """Quantize learned (float) k-means centroids — e.g.
    ``clustering.kmeans_fit`` output — into the integer-scaled form
    ``ivf_cell``/``ivf_ann_topk`` consume, closing the production loop
    kmeans → centroids → IVF index. Same ×10000 scaling as the seeded
    random centroids, so cell assignment stays exact int64 math."""
    return [[int(round(float(v) * scale)) for v in row] for row in centroids]


def save_centroids(spark, centroids: list[list[int]], path: str) -> str:
    """Persist an IVF centroid set as a tiny parquet (cell, weights) —
    the index metadata a 100 TB vector store writes once and every
    query/ingest job broadcast-loads. Built JVM-side (range + one
    `_lit_mat` plan constant), NOT createDataFrame(py rows): a write
    job over a Python-parallelized RDD re-launches a Python worker per
    parent partition and measured ~5 s for 8 rows — the JVM build
    writes in ~0.2 s."""
    df = spark.range(len(centroids)).select(
        F.col("id").cast("int").alias("cell"),
        F.element_at(_lit_mat(centroids), (F.col("id") + 1).cast("int")).alias(
            "weights"
        ),
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def load_centroids(spark, path: str) -> list[list[int]]:
    """Load a persisted centroid set (inverse of ``save_centroids``)."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [[int(w) for w in r["weights"]] for r in rows]


def _cell_entries(qv: Column, centroids: list[list[int]]) -> Column:
    """array<struct<nd,idx>> of (negated dot, centroid index): struct
    ordering (nd asc, idx asc) = dot desc with first-max tie-break —
    array_min is argmax, array_sort is the probe order. One transform
    over a 2-D centroid literal (O(1) tree, see `_lit_mat`)."""
    return F.transform(
        _lit_mat(centroids),
        lambda cen, i: F.struct(
            (-dot(qv, cen)).alias("nd"), i.alias("idx")
        ),
    )


def ivf_cell(
    vec_col: Column | str,
    centroids: list[list[int]],
    scale: int = 1000,
) -> Column:
    """Nearest-centroid cell id by max exact-int dot product; ties break
    to the lowest centroid index (first max), matching the SQL oracle's
    CASE chain."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.array_min(_cell_entries(quantize(c, scale), centroids))["idx"]


def ivf_probe_cells(
    vec_col: Column | str,
    centroids: list[list[int]],
    nprobe: int = 1,
    scale: int = 1000,
) -> Column:
    """Top-``nprobe`` nearest cells by exact-int dot product, nearest
    first, ties to the lower centroid index (matches ivf_cell's
    first-max rule for the top cell). Query-side fan-out only: the
    corpus index stays single-celled."""
    n = min(nprobe, len(centroids))
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    ordered = F.array_sort(_cell_entries(quantize(c, scale), centroids))
    return F.transform(F.slice(ordered, 1, n), lambda s: s["idx"])


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    seed: int = 7,
    centroids: list[list[int]] | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: score only candidates in the query's cell
    (nprobe=1). Same equi-join shape as lsh_ann_topk with a coarse
    quantizer instead of hyperplane signs — the inverted-file layout a
    100 TB vector store would partition by.

    Recall note (measured): with seeded random centroids on UNclustered
    random vectors, nprobe=1 top-1 recall is poor (~10%) — a single
    coarse cell barely correlates with angular nearest-ness. IVF earns
    its keep when embeddings are clustered and centroids are learned
    (k-means); on unclustered data prefer lsh_ann_topk, whose buckets
    encode angular similarity directly. Pass ``centroids=`` learned
    ones (e.g. quantized output of clustering.kmeans_fit) for the
    production path, and ``nprobe>1`` to probe that many nearest cells
    per query (recall climbs with candidate work; cells are disjoint so
    no pair dedup is needed)."""
    centroids = centroids or ivf_centroids(dim, n_cells, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col, scale).alias("qv"),
        F.explode(ivf_probe_cells(vec_col, centroids, nprobe, scale)).alias("cell"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        quantize(vec_col, scale).alias("cv"),
        ivf_cell(vec_col, centroids, scale).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cosine_q(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    return _topk_per_query(
        scored,
        [F.desc("cosine"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "cosine", "rank"],
    )


def hyperplane_tables(
    dim: int, n_tables: int = 2, bits: int = 10, seed: int = 42
) -> list[list[list[int]]]:
    """L independent hyperplane tables of ``bits`` planes each — the
    OR-of-ANDs banding for hyperplane LSH (same construction as the
    MinHash band trick): a pair collides iff ALL ``bits`` signs agree
    in AT LEAST ONE table. ``bits`` controls per-table occupancy
    (n/2^bits vectors per bucket — scale bits ~ log2(n) so the
    per-bucket self-join stays linear); ``n_tables`` buys back recall
    (P[collide] = 1-(1-p^bits)^L for per-plane agreement p). Occupancy
    math in SCALE.md."""
    return [hyperplanes(dim, bits, seed + 7919 * t) for t in range(n_tables)]


def lsh_table_buckets(
    vec_col: Column | str,
    tables: list[list[list[int]]],
    scale: int = 1000,
) -> Column:
    """array<struct<tbl:int, bucket:int>> — the vector's bucket in every
    table. Explode + equi-join on (tbl, bucket) downstream."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(c, tbl, scale).alias("bucket"),
            )
            for t, tbl in enumerate(tables)
        ]
    )


def embedding_neardup_pairs_multitable(
    df: DataFrame,
    threshold: float = 0.99,
    n_tables: int = 2,
    bits: int = 10,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Multi-table LSH near-dup pairs — the scale-safe parameterization
    of ``embedding_neardup_pairs``. Per-table buckets are 2^bits wide
    (size bits ≈ log2(n) so per-bucket occupancy stays O(1) and the
    bucket self-join stays ~linear in n); L tables OR-ed together
    restore the recall a single finer table loses.

    Plan shape: candidates are generated as (tbl, bucket) equi-joins on
    IDS ONLY, distinct-ed, and only then joined back to the quantized
    vectors for exact cosine verification — vectors never ride the
    candidate shuffle, and a pair colliding in several tables is scored
    once."""
    tables = hyperplane_tables(dim, n_tables, bits, seed)
    b = df.select(
        F.col(id_col), F.explode(lsh_table_buckets(vec_col, tables, scale)).alias("tb")
    ).select(id_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    x, y = b.alias("x"), b.alias("y")
    cand = (
        x.join(y, on=["tbl", "bucket"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )
    v = df.select(F.col(id_col), quantize(vec_col, scale).alias("v"))
    va = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_q(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def lsh_ann_topk_multitable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_tables: int = 2,
    bits: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Multi-table ANN top-k: the corpus index is replicated L× (one
    (tbl, bucket) entry per table — the classic storage/recall trade),
    queries probe their bucket in every table, and (query, cand) pairs
    are deduped before scoring so multi-table collisions cost one
    cosine. Same equi-join-only shape as lsh_ann_topk."""
    tables = hyperplane_tables(dim, n_tables, bits, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col, scale).alias("qv"),
        F.explode(lsh_table_buckets(vec_col, tables, scale)).alias("tb"),
    ).select("query_id", "qv", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        quantize(vec_col, scale).alias("cv"),
        F.explode(lsh_table_buckets(vec_col, tables, scale)).alias("tb"),
    ).select("cand_id", "cv", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    scored = (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "cand_id"])
        .select("query_id", "cand_id", cosine_q(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    return _topk_per_query(
        scored,
        [F.desc("cosine"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "cosine", "rank"],
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: only pairs
    sharing a hyperplane bucket are scored (id_a < id_b, cosine ≥
    threshold). The O(n²) brute-force equivalent is the same expression
    with bucket removed."""
    planes = hyperplanes(dim, n_planes, seed)
    s = df.select(
        F.col(id_col),
        quantize(vec_col, scale).alias("v"),
        lsh_bucket(vec_col, planes, scale).alias("bucket"),
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_q(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression layer of a
# 100 TB vector store: each embedding collapses to m sub-space codebook
# codes (here m×log2(ksub) bits vs dim×32 for the raw floats), and
# queries score candidates with asymmetric distance (ADC) against the
# codes without ever touching the original vectors. No reference
# counterpart; §7.4 extension surface next to the LSH/IVF paths.
# Exact-arithmetic discipline: quantized vectors (×1000) are lifted
# ×10 to the codebook scale (×10000), so encode distances and ADC
# distances are exact int64 — oracle-checkable with zero float hazards.
# ---------------------------------------------------------------------------


_CODEBOOK_SCALE = 10_000


def _pq_lift(scale: int) -> int:
    """Integer lift from the quantized-vector scale (``quantize``'s
    ×scale) up to the ×10000 codebook/centroid scale. Validates
    divisibility so a non-default ``scale`` errors loudly instead of
    silently mis-scaling every PQ distance and code (the pre-r5 code
    hardcoded ×10, which was only correct for scale=1000)."""
    if scale <= 0 or _CODEBOOK_SCALE % scale != 0:
        raise ValueError(
            f"scale={scale} must be a positive divisor of the PQ codebook "
            f"scale {_CODEBOOK_SCALE} (codebooks/centroids are stored as "
            f"×{_CODEBOOK_SCALE} ints; the encode lifts vectors by "
            f"{_CODEBOOK_SCALE}//scale to match)"
        )
    return _CODEBOOK_SCALE // scale


def pq_codebooks(
    dim: int = 64, m: int = 2, ksub: int = 16, seed: int = 13
) -> list[list[list[int]]]:
    """Deterministic seeded PQ codebooks: ``m`` sub-spaces of dim/m
    dims, ``ksub`` integer-scaled (×10000) centroids each. A real
    deployment k-means-trains these per sub-space (swap in quantized
    learned centroids exactly like kmeans_to_ivf_centroids); the seeded
    form keeps encode/ADC reproducible and oracle-checkable."""
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    rng = np.random.default_rng(seed)
    dsub = dim // m
    return [
        [
            [int(round(float(v) * 10000)) for v in rng.standard_normal(dsub)]
            for _ in range(ksub)
        ]
        for _ in range(m)
    ]


def _let(col: Column, fn) -> Column:
    """Let-binding for higher-order expressions: evaluate ``col`` ONCE
    per row and pass its VALUE into ``fn`` as a lambda variable.
    Catalyst evaluates non-lambda subtrees inside a lambda body on
    EVERY lambda invocation (no caching in HOF bodies), so an argmin
    that references e.g. `quantize(...)` inside a 16-codeword
    `transform` would re-quantize the vector 16 times per row —
    measured 6× slower than the Arrow kernel before this binding. The
    single-element transform evaluates the bound expression once; the
    body then reads a cheap lambda-variable value."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _pq_sub_entries(sub: Column, cb: np.ndarray, dot_scale: int) -> Column:
    """array<struct<d2,idx>> for ONE PQ sub-space: d2 = ||c||² −
    dot_scale·(sub·c), idx = code. Struct ordering (d2 asc, idx asc)
    makes `array_min` an exact argmin with first-min tie-break — the
    same trick `ivf_cell` uses. ``dot_scale`` is 2·lift when ``sub``
    is at the raw quantize scale (q·lift·c == lift·(q·c)) and 2 when
    ``sub`` is already at the codebook scale (residuals). The dropped
    ||sub||² term is row-constant per sub-space, so the winner — and
    its tie-breaks — match the full squared distance exactly (all
    int64, no float hazards)."""
    consts = F.expr(
        "array(" + ",".join(f"{int((r * r).sum())}L" for r in cb) + ")"
    )
    return F.transform(
        _lit_mat([[int(w) for w in r] for r in cb]),
        lambda cen, i: F.struct(
            (
                F.element_at(consts, i + 1)
                - F.lit(int(dot_scale)) * dot(sub, cen)
            ).alias("d2"),
            i.alias("idx"),
        ),
    )


def pq_codes(
    vec_col: Column | str,
    codebooks: list[list[list[int]]],
    scale: int = 1000,
) -> Column:
    """Encode: per sub-space nearest centroid by exact-int squared L2
    (ties → lowest code, matching both numpy first-argmin and the SQL
    oracle's CASE chain). Map-only — the shape of a 100 TB encode job
    (each partition encodes independently; the codebooks ride the plan
    as literals). Evaluates as higher-order array expressions on the
    executor — no Arrow hop, no Python worker pool; the encode stays
    fused with the scan it feeds, exact int64 under any summation
    order."""
    cbs = [np.asarray(cb, dtype=np.int64) for cb in codebooks]
    lift = _pq_lift(scale)
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def _codes_of(qq: Column) -> Column:
        # qq is the let-bound quantized vector (evaluated ONCE per
        # row); each sub-space binds its slice the same way so the
        # 16-codeword argmin body reads lambda variables, not
        # re-evaluated quantize/slice subtrees (see _let)
        def _argmin(cb):
            # factory, not a default-arg lambda (PySpark would treat
            # the default param as a second lambda variable)
            return lambda s: F.array_min(
                _pq_sub_entries(s, cb, 2 * lift)
            )["idx"].cast("int")

        cols, ofs = [], 0
        for cb in cbs:
            dsub = int(cb.shape[1])
            cols.append(_let(F.slice(qq, ofs + 1, dsub), _argmin(cb)))
            ofs += dsub
        return F.array(*cols)

    return _let(quantize(c, scale), _codes_of)


def pq_code_packed(
    vec_col: Column | str, codebooks: list[list[list[int]]], scale: int = 1000
) -> Column:
    """Single-integer packed PQ code (Σ code_j·ksub^j) — the partition/
    bucket key a PQ-sharded store lays data out by."""
    ksub = len(codebooks[0])
    codes = pq_codes(vec_col, codebooks, scale)
    expr = None
    for j in range(len(codebooks)):
        term = F.element_at(codes, j + 1).cast("long") * (ksub**j)
        expr = term if expr is None else expr + term
    return expr


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    codebooks: list[list[list[int]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """ANN top-k by asymmetric distance: the corpus exists only as PQ
    codes (encode once, map-only); each query scores candidates as
    Σ_j ||q_sub·10 − codebook_j[code_j]||² — exact int64, so ranking is
    engine-portable with no float hazards. Broadcast the (small) query
    set against the codes; the raw corpus vectors never ride the join.
    At 100 TB: codes are ~64× smaller than fp32 vectors, and the scan
    is over codes + a per-query LUT of m×ksub partial distances (the
    classic ADC layout this operator's plan mirrors — the LUT is
    computed ONCE per query row on the broadcast side, so each scored
    pair is m array lookups + adds inside the JVM, no Python boundary
    and no O(dim) recompute per pair)."""
    codebooks = codebooks or pq_codebooks()
    cbs = [np.asarray(cb, dtype=np.int64) for cb in codebooks]
    lift = _pq_lift(scale)

    enc = corpus.select(
        F.col(id_col).alias("cand_id"),
        pq_codes(vec_col, codebooks, scale).alias("codes"),
    )
    # per-query ADC LUTs, in-plan: lut_j[c] = Σ_i (qv_i·lift − cb_j[c][i])²
    # — exact int64 (identical to the numpy diff²-sum under any order),
    # evaluated once per query row BEFORE the broadcast so the join side
    # carries m·ksub longs per query instead of the dim-long vector
    def _lut_over(cb):
        # per-codeword body reads the LET-BOUND slice (lambda var) —
        # factory form, no default-arg lambdas (PySpark counts default
        # params as lambda variables and would bind them to the index)
        return lambda s: F.transform(
            _lit_mat([[int(w) for w in r] for r in cb]),
            lambda cen: F.aggregate(
                F.zip_with(
                    s,
                    cen,
                    lambda x, w: (x * F.lit(lift) - w)
                    * (x * F.lit(lift) - w),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )

    qv = quantize(vec_col, scale)
    luts, ofs = [], 0
    for j, cb in enumerate(cbs):
        dsub = int(cb.shape[1])
        luts.append(
            _let(F.slice(qv, ofs + 1, dsub), _lut_over(cb)).alias(
                f"__lut{j}"
            )
        )
        ofs += dsub
    q = queries.select(F.col(id_col).alias("query_id"), *luts)

    # ADC per pair: m LUT lookups + adds, pure JVM column math
    adc = None
    for j in range(len(cbs)):
        term = F.element_at(
            F.col(f"__lut{j}"), F.element_at(F.col("codes"), j + 1) + 1
        )
        adc = term if adc is None else adc + term

    scored = (
        enc.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            adc.alias("approx_dist"),
        )
    )
    return _topk_per_query(
        scored,
        [F.asc("approx_dist"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "approx_dist", "rank"],
    )


def ann_recall(
    approx: DataFrame, exact: DataFrame, k: int | None = None
) -> DataFrame:
    """Recall@k of an ANN result against brute-force ground truth —
    the tuning loop every approximate index needs (raise bits/nprobe/
    ksub until recall clears target). Both inputs are top-k frames
    with (query_id, cand_id, rank); per-query recall = |approx ∩
    exact| / |exact|, plus a corpus-level macro average as the
    ``query_id IS NULL`` row. Ids-only joins — at 100 TB this costs
    two tiny per-query-set shuffles, independent of corpus size."""
    if k is not None:
        approx = approx.filter(F.col("rank") <= k)
        exact = exact.filter(F.col("rank") <= k)
    a = approx.select("query_id", "cand_id")
    e = exact.select("query_id", "cand_id")
    hits = a.join(e, ["query_id", "cand_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    truth = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    per_q = (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_true")
            ).alias("recall"),
        )
    )
    macro = per_q.agg(
        F.lit(None).cast(per_q.schema["query_id"].dataType).alias("query_id"),
        F.avg("recall").alias("recall"),
    )
    return per_q.unionByName(macro)


def train_pq_codebooks(
    df: DataFrame,
    m: int = 2,
    ksub: int = 16,
    n_iter: int = 5,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """K-means-train PQ codebooks per sub-space — the production path
    (`pq_codebooks` is the seeded floor): slice the embedding column
    into m sub-vectors, Lloyd-fit each slice with the distributed
    ``clustering.kmeans_fit`` (Summarizer vector aggregate, k-row
    collects only), then quantize ×10 from the quantized-vector scale
    (×1000) up to the ×10000 codebook scale so encode/ADC stay exact
    int64. Output plugs straight into ``pq_codes``/``pq_ann_topk``,
    exactly like kmeans_to_ivf_centroids closes the IVF loop. m driver
    -side fits of k×dsub state each — corpus scale never matters."""
    from gedixr_spark.operators.clustering import kmeans_fit

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    books = []
    for j in range(m):
        sub = df.select(
            F.col(id_col), F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col)
        )
        cents, _ = kmeans_fit(sub, k=ksub, n_iter=n_iter, vec_col=vec_col, id_col=id_col)
        # float centroid (raw embedding units) → codebook ints at ×10000
        # = (×1000 quantized-vector scale) × (the ×10 ADC lift)
        books.append([[int(round(float(v) * 10000)) for v in c] for c in cents])
    return books


# --- IVF-PQ composition: coarse cells + PQ on the RESIDUAL -----------------
# The canonical 100 TB vector-store architecture (inverted file +
# product-quantized residuals): the cell centroid absorbs the coarse
# position so the codebooks only carry the fine offset — far better
# code utilization than PQ on raw vectors, and the scan is
# cell-restricted like IVF. Still exact int64 end-to-end here: vectors
# quantized ×1000 then lifted ×10 to the ×10000 centroid/codebook
# scale, residual = lifted vector − centroid (exact int), ADC on
# residuals (exact int).


def _pq_assign(mat: np.ndarray, cbs: list[np.ndarray]) -> np.ndarray:
    """codes n×m by per-subspace argmin squared L2 (first min wins)."""
    out = np.empty((mat.shape[0], len(cbs)), dtype=np.int32)
    ofs = 0
    for j, cb in enumerate(cbs):
        dsub = cb.shape[1]
        sub = mat[:, ofs : ofs + dsub]
        ofs += dsub
        d2 = (cb * cb).sum(axis=1)[None, :] - 2 * (sub @ cb.T)
        out[:, j] = np.argmin(d2, axis=1)
    return out


def _pq_adc_dist(mat: np.ndarray, codes: np.ndarray, cbs: list[np.ndarray]) -> np.ndarray:
    """Σ_j ||sub_j − cb_j[code_j]||², exact int64."""
    total = np.zeros(mat.shape[0], dtype=np.int64)
    ofs = 0
    for j, cb in enumerate(cbs):
        dsub = cb.shape[1]
        diff = mat[:, ofs : ofs + dsub] - cb[codes[:, j]]
        ofs += dsub
        total += (diff * diff).sum(axis=1)
    return total


def ivf_pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    centroids: list[list[int]] | None = None,
    codebooks: list[list[list[int]]] | None = None,
    nprobe: int = 1,
    dim: int = 64,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """IVF-PQ ANN: candidates restricted to the query's ``nprobe``
    nearest cells (inverted-file pruning), scored by exact-int ADC on
    PQ-coded RESIDUALS — ||qres − r̃||² ≈ ||q − x||² since the shared
    cell centroid cancels. Corpus footprint per vector: one cell id +
    m codes; raw vectors never enter the join. Plan: two map-only
    in-plan encodes (higher-order array expressions — exact int64, no
    Python boundary) + one broadcast equi-join on cell + window top-k —
    the same shuffle shape as ivf_ann_topk with a 64×-smaller scan
    payload. The query side carries per-(query,cell) ADC LUTs so each
    scored pair is m lookups + adds, as in `pq_ann_topk`."""
    centroids = centroids or ivf_centroids(dim, n_cells, seed=7)
    codebooks = codebooks or pq_codebooks(dim, 2, 16, 13)
    cen = np.asarray(centroids, dtype=np.int64)
    cbs = [np.asarray(cb, dtype=np.int64) for cb in codebooks]
    lift = _pq_lift(scale)
    cen_lit = _lit_mat([[int(w) for w in r] for r in cen])

    def _residual(cell: Column) -> Column:
        # q·lift − centroid[cell]: exact int64, already at the codebook
        # scale (so downstream encode/LUT use dot_scale=2 / direct diff)
        return F.zip_with(
            F.transform(quantize(vec_col, scale), lambda x: x * F.lit(lift)),
            F.element_at(cen_lit, cell + 1),
            lambda a, b: a - b,
        )

    # corpus: encode the residual per sub-space (argmin via array_min
    # over struct<d2,idx> — first-min tie-break, same as _pq_assign).
    # The residual and each slice are let-bound so the 16-codeword
    # argmin reads lambda variables, not a re-evaluated residual tree
    def _res_codes_of(rr: Column) -> Column:
        def _argmin(cb):
            return lambda s: F.array_min(_pq_sub_entries(s, cb, 2))[
                "idx"
            ].cast("int")

        cols, ofs = [], 0
        for cb in cbs:
            dsub = int(cb.shape[1])
            cols.append(_let(F.slice(rr, ofs + 1, dsub), _argmin(cb)))
            ofs += dsub
        return F.array(*cols)

    codes = _let(_residual(F.col("cell")), _res_codes_of)
    enc = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col),
        ivf_cell(vec_col, centroids, scale).alias("cell"),
    ).select("cand_id", "cell", codes.alias("codes"))

    # queries: per-(query, probed cell) LUTs over the query residual —
    # lut_j[c] = Σ_i (qres_i − cb_j[c][i])², exact int64
    def _lut_over(cb):
        # per-codeword body reads the LET-BOUND slice (lambda var) —
        # factory form, no default-arg lambdas (PySpark would treat a
        # default param as the index lambda variable)
        return lambda s: F.transform(
            _lit_mat([[int(w) for w in r] for r in cb]),
            lambda cw: F.aggregate(
                F.zip_with(s, cw, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )

    qres = _residual(F.col("cell"))
    luts, ofs = [], 0
    for j, cb in enumerate(cbs):
        dsub = int(cb.shape[1])
        luts.append(
            _let(F.slice(qres, ofs + 1, dsub), _lut_over(cb)).alias(
                f"__lut{j}"
            )
        )
        ofs += dsub
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col),
        F.explode(ivf_probe_cells(vec_col, centroids, nprobe, scale)).alias(
            "cell"
        ),
    ).select("query_id", "cell", *luts)

    adc = None
    for j in range(len(cbs)):
        term = F.element_at(
            F.col(f"__lut{j}"), F.element_at(F.col("codes"), j + 1) + 1
        )
        adc = term if adc is None else adc + term

    scored = (
        enc.join(F.broadcast(q), on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            adc.alias("approx_dist"),
        )
    )
    return _topk_per_query(
        scored,
        [F.asc("approx_dist"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "approx_dist", "rank"],
    )


# --- SemDeDup: semantic (embedding-space) deduplication --------------------
# Published method (Abbas et al. 2023, "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication"): cluster the
# embedding space with k-means, then search for near-duplicates ONLY
# within each cluster — the cluster assignment replaces the quadratic
# all-pairs blowup with per-cluster work bounded by cluster size.
# Unlike MinHash/SimHash (lexical), this catches paraphrases and
# re-encodings that share no n-grams. No reference counterpart; §7.4
# extension surface beside the lexical dedup family in operators/dedup.


def _enforce_cluster_bound(
    v: DataFrame,
    max_cluster: int | None,
    sub_bucket_bits: int,
) -> DataFrame:
    """Bound semantic dedup's per-cluster quadratic (the same failure
    ``ngram_jaccard_pairs`` guards with ``max_docs``): a skewed k-means
    — one mega-cluster — would silently make the within-cluster
    self-join O(n²).

    ``sub_bucket_bits > 0`` shards every cluster by an LSH sub-key
    (hyperplane signature over the already-quantized vectors), cutting
    occupancy ~2^bits at a recall cost only for cross-sub-bucket pairs
    — the composition the SemDeDup docstring prescribes, now
    mechanical. ``max_cluster`` then ENFORCES the bound: one k-row
    count, and any (sub-)cluster above the cap raises naming both
    remedies. All-identical vectors defeat LSH sub-bucketing (same
    signature by construction), so the count check runs after
    sharding too — the degenerate fixture raises instead of silently
    going quadratic."""
    if sub_bucket_bits:
        row = v.select("__v").first()
        if row is None:
            # Empty input: nothing to shard or bound — match the rest
            # of semantic_dedup, which returns empty for empty input.
            return v
        dim = len(row["__v"])
        planes = hyperplanes(dim, sub_bucket_bits, seed=99)
        v = v.withColumn(
            "cluster",
            F.concat(
                F.col("cluster").cast("string"),
                F.lit("_"),
                lsh_bucket(F.col("__v"), planes, scale=1).cast("string"),
            ),
        )
    if max_cluster is not None:
        top = (
            v.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .collect()[0][0]
        )
        if top and top > max_cluster:
            raise ValueError(
                f"largest semantic-dedup cluster holds {top} vectors "
                f"(> max_cluster={max_cluster}); its self-join would be "
                f"quadratic. Raise k (target k ≈ n/cluster_size), pass "
                f"sub_bucket_bits to shard clusters by an LSH sub-key "
                f"(recall trade), or raise max_cluster if the blow-up "
                f"is intended."
            )
    return v


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.99,
    n_iter: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    max_cluster: int | None = 100_000,
    sub_bucket_bits: int = 0,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Within-cluster near-duplicate pairs: k-means the corpus
    (``clustering.kmeans_fit`` — deterministic init, k×dim driver
    state), then equi-join each cluster against itself and keep pairs
    with quantized cosine ≥ threshold. Returns (id_a, id_b, cosine),
    id_a < id_b, each pair once.

    Scale: the self-join is keyed on the cluster id, so the quadratic
    term is per-cluster — pick k ≈ n/target_cluster_size to bound it
    (SemDeDup used 110k clusters for LAION-scale). Quantized vectors do
    ride this join (scoring needs them). ``max_cluster`` /
    ``sub_bucket_bits`` ENFORCE the bound (see
    `_enforce_cluster_bound`) — a skewed fit fails loudly instead of
    silently going quadratic.

    ``centroids``: a pre-fitted k×dim matrix skips the Lloyd
    iterations (assignment only — one Arrow map pass). The write-once
    index lifecycle: fit once (`clustering.kmeans_fit` /
    `save_kmeans_centroids`), reuse everywhere; bit-identical to
    fitting in-line because the fit is deterministic and float64
    survives parquet exactly."""
    if centroids is not None:
        from gedixr_spark.operators.clustering import kmeans_assign

        assigned = kmeans_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    else:
        _, assigned = kmeans_fit(
            df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col
        )
    v = df.select(
        F.col(id_col), quantize(vec_col, scale).alias("__v")
    ).join(assigned.select(id_col, "cluster"), id_col)
    v = _enforce_cluster_bound(v, max_cluster, sub_bucket_bits)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("cluster"), F.col("__v").alias("__va")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("cluster"), F.col("__v").alias("__vb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_q(F.col("__va"), F.col("__vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def centroid_similarity(
    df: DataFrame,
    centroids: np.ndarray,
    assigned: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Per-item cosine to its own cluster centroid — SemDeDup's keep
    criterion (the paper keeps the example LEAST similar to the
    centroid to preserve diversity). Pure column math: the k×dim
    centroid matrix rides as a literal array (broadcast-by-closure),
    indexed by the cluster id; no extra shuffle beyond the assignment
    join. Returns (id, cluster, centroid_cosine)."""
    cen_q = [
        [int(round(float(x) * scale)) for x in row] for row in np.asarray(centroids)
    ]
    cen_lit = _lit_mat(cen_q)
    v = df.select(F.col(id_col), quantize(vec_col, scale).alias("__v")).join(
        assigned.select(id_col, "cluster"), id_col
    )
    return v.select(
        F.col(id_col),
        F.col("cluster"),
        cosine_q(F.col("__v"), F.element_at(cen_lit, F.col("cluster") + 1)).alias(
            "centroid_cosine"
        ),
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.99,
    n_iter: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    keep: str = "min_id",
    max_cluster: int | None = 100_000,
    sub_bucket_bits: int = 0,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """End-to-end SemDeDup: cluster → within-cluster pairs → connected
    components → survivor per component → anti-join. ``max_cluster`` /
    ``sub_bucket_bits`` bound the within-cluster quadratic (see
    `_enforce_cluster_bound`). ``keep``:

    - ``"min_id"``: deterministic arbitrary survivor (cluster_id
      holder), zero extra passes;
    - ``"farthest_from_centroid"``: the paper's diversity-preserving
      policy — keep the component member LEAST similar to its cluster
      centroid (ties → lowest id).

    Composes the lexical-dedup machinery unchanged (dedup_clusters /
    choose_survivors / apply_dedup) — components and survivor tables
    are ids-only; full vectors move once, inside the scoring join.

    ``centroids``: pre-fitted k×dim matrix — skips the Lloyd
    iterations entirely (see `semantic_dedup_pairs`); the
    farthest-from-centroid metric reuses the same matrix either
    way (no second fit)."""
    from gedixr_spark.operators.dedup import (
        apply_dedup,
        choose_survivors,
        dedup_clusters,
    )

    if keep not in ("min_id", "farthest_from_centroid"):
        raise ValueError(f"keep must be min_id|farthest_from_centroid, got {keep!r}")
    if centroids is not None:
        from gedixr_spark.operators.clustering import kmeans_assign

        cents = np.asarray(centroids, dtype=np.float64)
        assigned = kmeans_assign(df, cents, vec_col=vec_col, id_col=id_col)
    else:
        cents, assigned = kmeans_fit(
            df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col
        )
    v = df.select(F.col(id_col), quantize(vec_col, scale).alias("__v")).join(
        assigned.select(id_col, "cluster"), id_col
    )
    v = _enforce_cluster_bound(v, max_cluster, sub_bucket_bits)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("cluster"), F.col("__v").alias("__va")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("cluster"), F.col("__v").alias("__vb")
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_q(F.col("__va"), F.col("__vb")) >= threshold)
        .select("id_a", "id_b")
    )
    clusters = dedup_clusters(pairs)
    if keep == "farthest_from_centroid":
        metric = centroid_similarity(
            df, cents, assigned, vec_col=vec_col, id_col=id_col, scale=scale
        ).select(F.col(id_col).alias("doc_id"), "centroid_cosine")
        clusters = choose_survivors(
            clusters, metric, "centroid_cosine", id_col="doc_id", ascending=True
        )
    return apply_dedup(df, clusters, id_col=id_col)


# --- SQ8: per-dimension scalar quantization --------------------------------
# The simplest point on the vector-compression curve (Faiss
# ScalarQuantizer QT_8bit): one byte per dimension, per-dim affine
# codebook trained from data min/max. 8× smaller scans than float64
# with near-lossless recall — the right first compression step before
# PQ's aggressive codebooks. Search is asymmetric (ADC): the query
# stays float, candidates are decoded per-dimension inside JVM column
# math (no Python on the hot path, same discipline as lsh_bucket).


def sq8_train(df: DataFrame, vec_col: str = "embedding") -> dict:
    """Per-dimension (min, step) affine codebook: code = round((x -
    min)/step), step = (max - min)/255. One posexplode + groupBy(dim)
    — map-side combined, the shuffle carries dim·partitions partial
    rows, never the corpus. Driver state is 2·dim floats (the
    write-once index-metadata lifecycle; persist with plain json)."""
    rows = (
        df.select(F.posexplode(vec_col).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    if not rows:
        raise ValueError("sq8_train on an empty corpus")
    mins = [float(r["mn"]) for r in rows]
    steps = [
        (float(r["mx"]) - float(r["mn"])) / 255.0
        if r["mx"] > r["mn"]
        else 1.0
        for r in rows
    ]
    return {"mins": mins, "steps": steps}


def _sq8_vec_lit(values: list[float]) -> Column:
    # 1-D float plan constant via the single-expr discipline (_lit_fmat)
    return F.element_at(_lit_fmat([values]), 1)


def sq8_encode(
    df: DataFrame,
    params: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "sq8",
) -> DataFrame:
    """(id, codes array<int> in 0..255) — whole-stage-codegen transform
    over two dim-length plan constants; values outside the trained
    range clamp to the edge codes (a later batch can't overflow)."""
    mins, steps = _sq8_vec_lit(params["mins"]), _sq8_vec_lit(params["steps"])
    codes = F.transform(
        F.col(vec_col),
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x.cast("double") - F.element_at(mins, i + 1))
                    / F.element_at(steps, i + 1)
                ).cast("int"),
            ),
        ),
    )
    return df.select(F.col(id_col), codes.alias(out_col))


def sq8_decode(codes: Column, params: dict) -> Column:
    """array<int> codes → array<double> reconstruction (min + code·step
    per dimension)."""
    mins, steps = _sq8_vec_lit(params["mins"]), _sq8_vec_lit(params["steps"])
    return F.transform(
        codes,
        lambda c, i: F.element_at(mins, i + 1)
        + c.cast("double") * F.element_at(steps, i + 1),
    )


def sq8_topk(
    queries: DataFrame,
    codes: DataFrame,
    params: dict,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "sq8",
) -> DataFrame:
    """Asymmetric cosine top-k over SQ8 codes: float query × decoded
    candidate, brute scan of the COMPRESSED table (the scan that costs
    8× less I/O than the float corpus — at 100 TB of embeddings that is
    the difference between a feasible and an infeasible brute pass).
    Same output contract as `cosine_topk`: (query_id, cand_id, cosine,
    rank), ties broken by ascending cand_id. Candidates decode inside
    whole-stage codegen; recall vs the float brute pass is pinned in
    tests/test_sq8.py."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    dec = sq8_decode(F.col(codes_col), params)
    scored = (
        codes.select(F.col(id_col).alias("cand_id"), dec.alias("cv"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (
                dot_double(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot_double(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot_double(F.col("cv"), F.col("cv")))
                )
            ).alias("cosine"),
        )
    )
    return _topk_per_query(
        scored,
        [F.desc("cosine"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "cosine", "rank"],
    )


def sq8_index(
    corpus: DataFrame,
    params: dict,
    centroids: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """The IVF-SQ8 index table: (id, cell, sq8 codes) — coarse cell
    for candidate pruning, one-byte-per-dim codes for the scan. Built
    in ONE map-side pass over the corpus (cell assignment and encoding
    are both whole-stage-codegen column math); persist it partitioned
    by ``cell`` and a query touches only its probed partitions — the
    inverted-file layout over the 8×-compressed representation."""
    mins, steps = _sq8_vec_lit(params["mins"]), _sq8_vec_lit(params["steps"])
    codes = F.transform(
        F.col(vec_col),
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x.cast("double") - F.element_at(mins, i + 1))
                    / F.element_at(steps, i + 1)
                ).cast("int"),
            ),
        ),
    )
    return corpus.select(
        F.col(id_col),
        ivf_cell(vec_col, centroids, scale).alias("cell"),
        codes.alias("sq8"),
    )


def ivf_sq8_ann_topk(
    queries: DataFrame,
    index: DataFrame,
    params: dict,
    centroids: list[list[int]],
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Cell-restricted SQ8 ANN — the compression × partitioning
    composition (`ivf_pq_ann_topk`'s near-lossless sibling): the query
    probes its ``nprobe`` nearest cells, candidates come from a
    broadcastable equi-join on the cell id, and scoring is the
    asymmetric float-query × decoded-candidate cosine of `sq8_topk`.
    With ``nprobe = n_cells`` the result equals the flat `sq8_topk`
    scan exactly (equivalence-pinned) — nprobe is the recall/cost
    dial, not a different algorithm."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.explode(
            ivf_probe_cells(vec_col, centroids, nprobe, scale)
        ).alias("cell"),
    )
    dec = sq8_decode(F.col("sq8"), params)
    scored = (
        index.select(F.col(id_col).alias("cand_id"), "cell", dec.alias("cv"))
        .join(F.broadcast(q), on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (
                dot_double(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot_double(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot_double(F.col("cv"), F.col("cv")))
                )
            ).alias("cosine"),
        )
    )
    return _topk_per_query(
        scored,
        [F.desc("cosine"), F.asc("cand_id")],
        k,
        ["query_id", "cand_id", "cosine", "rank"],
    )


# ---------------------------------------------------------------------------
# Binary quantization: 1 bit per dimension, Hamming shortlist, exact rerank
# ---------------------------------------------------------------------------

def bq_train(df: DataFrame, vec_col: str = "embedding") -> dict:
    """Per-dimension mean thresholds for binary quantization: bit i is
    ``x[i] > mean_i``. Centering on the per-dim mean (instead of a raw
    ``> 0`` sign) splits each dimension into equal-mass halves, which
    maximizes the information a single bit carries when embedding
    coordinates are offset from zero. One posexplode + groupBy(dim)
    pass — map-side combined, the shuffle carries dim·partitions
    partial rows, never the corpus. Driver state is dim floats (the
    write-once index-metadata lifecycle, like `sq8_train`)."""
    rows = (
        df.select(F.posexplode(vec_col).alias("d", "x"))
        .groupBy("d")
        .agg(F.avg("x").alias("mu"))
        .orderBy("d")
        .collect()
    )
    if not rows:
        raise ValueError("bq_train on an empty corpus")
    return {"thresholds": [float(r["mu"]) for r in rows]}


def bq_pack(vec_col: Column | str, params: dict) -> Column:
    """array<float> → packed sign bits as array<bigint>: word j holds
    dims [64j, 64j+64) MSB-first (word = fold acc*2 + bit). Everything
    is whole-stage-codegen column math — the threshold vector is ONE
    plan constant (`_lit_fmat` single-expr discipline), the per-word
    fold is an `aggregate` over a 64-element `slice`. A trailing
    partial word (dim % 64 != 0) folds fewer bits; both sides of any
    Hamming comparison pack the same dim so the convention cancels.

    32× smaller than float32 (dim/8 bytes/vector): at 100 TB of
    embeddings this is the representation that keeps the whole corpus
    scan memory/IO-resident where even SQ8 (8×) spills."""
    thr = params["thresholds"]
    dim = len(thr)
    n_words = (dim + 63) // 64
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = F.zip_with(
        c,
        _sq8_vec_lit(thr),
        lambda x, t: F.when(x.cast("double") > t, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    # shiftleft|OR, not acc*2+b: the top bit of a full word makes the
    # multiply overflow a signed long, which ANSI mode rejects; shifts
    # wrap by definition
    words = [
        F.aggregate(
            F.slice(bits, j * 64 + 1, 64),
            F.lit(0).cast("long"),
            lambda acc, b: F.shiftleft(acc, 1).bitwiseOR(b),
        )
        for j in range(n_words)
    ]
    return F.array(*words)


def bq_encode(
    df: DataFrame,
    params: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "bq",
) -> DataFrame:
    """(id, packed code words): the materialized binary index."""
    return df.select(F.col(id_col), bq_pack(vec_col, params).alias(out_col))


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two packed codes: fold of
    ``bit_count(a XOR b)`` over the word arrays — pure JVM integer
    ops inside whole-stage codegen, no Python anywhere."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def bq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    params: dict,
    k: int = 10,
    shortlist: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Two-stage ANN over the binary index: (1) Hamming-scan the packed
    codes against the broadcast queries' codes and keep a
    ``shortlist·k`` candidate list per query (ties broken on id), then
    (2) exact int-quantized cosine rerank of the survivors only —
    the full-precision vectors are touched for shortlist·k rows per
    query, never the corpus.

    Plan shape mirrors `cosine_topk` (one corpus scan, broadcast
    queries, per-query window) but the scan-side arithmetic is
    dim/64 XOR+popcount words instead of dim multiplies, and at rest
    the index is 32× smaller. Same output schema as `cosine_topk`
    (query_id, cand_id, cosine, rank) so recall is directly
    comparable (`ann_recall`)."""
    if k < 1 or shortlist < 1:
        raise ValueError("k and shortlist must be >= 1")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        bq_pack(vec_col, params).alias("qcode"),
        quantize(vec_col, scale).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        bq_pack(vec_col, params).alias("ccode"),
        F.col(vec_col).alias("__cv_raw"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "qv",
            "__cv_raw",
            hamming(F.col("ccode"), F.col("qcode")).alias("hamming"),
        )
    )
    # distributed shortlist selection (see _topk_per_query: a single
    # per-query window would sort the whole scored corpus in one task)
    short = _topk_per_query(
        scored,
        [F.asc("hamming"), F.asc("cand_id")],
        shortlist * k,
        ["query_id", "cand_id", "qv", "__cv_raw"],
        rank_col="__hrank",
    )
    # exact rerank on the shortlist only: quantize the survivors' raw
    # vectors here so the int cosine is computed for shortlist·k rows
    # per query, not during the Hamming scan
    rer = short.select(
        "query_id",
        "cand_id",
        cosine_q(F.col("qv"), quantize("__cv_raw", scale)).alias("cosine"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        rer.withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )
