"""Mergeable sketches and membership filters for 100 TB-scale pruning.

Three families — Bloom (membership), HLL (distinct counts), KMV
bottom-k (quantiles) — all chosen because they stay
JVM-side and their state is mergeable across partitions/executors/
batches — the property that makes them work on a 1000-executor
cluster and lets per-day state answer per-month questions without
rescanning. The first two in detail:

- **Bloom-filter semi-join pruning**: build a packed-bitset Bloom
  filter over the small side's join keys (one shuffle of 8-byte
  positions, then a driver-small bitset), broadcast it as a literal,
  and filter the big side MAP-SIDE before its shuffle. At 100 TB the
  win is shuffle bytes: a 1% -selective semi-join moves 1% of the fact
  table through the exchange instead of all of it. The final exact
  semi-join keeps results identical (the Bloom stage only admits false
  positives, which the join then removes).

- **HLL distinct-count rollups**: `hll_sketch_agg` per fine-grained
  group (e.g. per day), persist the binary sketches, then answer
  arbitrary coarser rollups with `hll_union_agg` over the tiny sketch
  table — the raw 100 TB is touched once, every subsequent
  distinct-count query reads kilobytes. This is the mergeable-state
  pattern `approx_count_distinct` cannot give you (it has no
  re-aggregatable output).

No reference-parity here — the reference (a single-process pandas ETL)
has no sketch surface; these are §7.4 extension operators for the
training-data-pipeline brief.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _check_bloom_params(m_bits: int, k: int) -> None:
    if m_bits & (m_bits - 1) or m_bits < 64:
        raise ValueError(f"m_bits must be a power of two >= 64 (got {m_bits})")
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16] (got {k})")
    if m_bits > (1 << 24):
        raise ValueError(
            f"m_bits={m_bits} packs to {m_bits >> 6} longs — too large to ship "
            "as a plan literal. For filters beyond ~16 Mbit, prune with a "
            "broadcast semi-join on the keys themselves instead."
        )


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """k Bloom positions for a key: xxhash64 seeded by slot index,
    masked to [0, m_bits) — the mask (not pmod) is why m_bits must be a
    power of two; it keeps the position non-negative for negative
    hashes without a branch."""
    return [
        F.xxhash64(F.lit(i), key).bitwiseAND(F.lit(m_bits - 1)) for i in range(k)
    ]


def bloom_build(small: DataFrame, key: str, m_bits: int = 1 << 17, k: int = 5) -> list[int]:
    """Build a packed Bloom bitset (list of m_bits/64 signed longs) over
    ``small[key]``.

    Distributed build: explode each key into its k bit positions, group
    by 64-bit word index, OR the word contributions map-side (bit_or is
    algebraic, so the shuffle carries at most m_bits/64 partial rows per
    map task), collect the <= m_bits/64 non-zero words. Driver state is
    the bitset only — 16 KiB at the default 2^17 bits — never the keys.
    """
    _check_bloom_params(m_bits, k)
    pos = small.select(
        F.explode(F.array(*_positions(F.col(key), m_bits, k))).alias("pos")
    )
    words = (
        # variable-distance shift needs the SQL expr form: the Column
        # API's shiftleft only accepts a literal distance
        pos.groupBy(F.shiftright("pos", 6).alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, cast(pos % 64 as int))")).alias("bits"))
        .collect()
    )
    bitset = [0] * (m_bits >> 6)
    for row in words:
        bitset[row["w"]] = row["bits"]
    return bitset


def bloom_filter_rows(
    df: DataFrame, key: str, bitset: Sequence[int], k: int = 5
) -> DataFrame:
    """Keep rows whose ``key`` might be in the Bloom filter (no false
    negatives; false-positive rate set by the build's m_bits/k).

    The bitset ships as ONE array literal in the plan (16 KiB default)
    and the membership test is pure column math — xxhash64, mask,
    word lookup, shift — inside whole-stage codegen. This is the
    map-side prune: place it BEFORE a shuffle so admitted rows, not all
    rows, pay the exchange.

    Spark's own runtime row-group Bloom pushdown only triggers for
    shuffle joins it plans itself; this operator gives the same prune
    explicitly, reusable across several downstream joins/stages.
    """
    m_bits = len(bitset) << 6
    _check_bloom_params(m_bits, k)
    words = F.lit(list(bitset))
    out = df
    helper_cols = []
    cond = F.lit(True)
    for i, pos in enumerate(_positions(F.col(key), m_bits, k)):
        p, w = f"__bloom_p{i}", f"__bloom_w{i}"
        helper_cols += [p, w]
        out = out.withColumn(p, pos).withColumn(
            w, F.get(words, F.shiftright(F.col(p), 6).cast("int"))
        )
        # variable-distance shift needs the SQL expr form: the Column
        # API's shiftright only accepts a literal distance
        cond = cond & (
            F.expr(f"shiftright({w}, cast({p} % 64 as int))").bitwiseAND(F.lit(1)) == 1
        )
    return out.filter(cond).drop(*helper_cols)


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    m_bits: int = 1 << 17,
    k: int = 5,
    exact: bool = True,
) -> DataFrame:
    """Semi-join ``big`` to ``small`` on column ``on`` with a Bloom
    pre-filter on the big side.

    exact=True (default) follows the Bloom prune with a real leftsemi
    join, so the result is EXACTLY ``big ⋉ small`` — the Bloom stage
    only reduces shuffle input. exact=False returns the pruned rows
    as-is (superset with the filter's FP rate) for pipelines that
    tolerate approximation and want to skip the join entirely.
    """
    bitset = bloom_build(small, on, m_bits=m_bits, k=k)
    pruned = bloom_filter_rows(big, on, bitset, k=k)
    if not exact:
        return pruned
    return pruned.join(small.select(on).distinct(), on=on, how="leftsemi")


def heavy_hitters(
    df: DataFrame, col: str, support: float = 0.01, exact: bool = True
) -> DataFrame:
    """Items of ``col`` occurring in ≥ ``support`` fraction of rows,
    with exact counts — (item, n_rows, frac), descending.

    Two-phase, both scans map-side-combining:
    1. candidate generation with Spark's ``freqItems`` (Karp et al.
       one-pass counting — no shuffle of the full key space, driver
       gets ≤ 1/support candidates, superset of the true answer);
    2. exact verification: candidate rows are filtered MAP-SIDE (the
       candidate list is a plan literal, same trick as the Bloom
       probe) and only they enter the groupBy — the shuffle carries
       the heavy keys' partial counts, not the long tail that
       dominates the key space at 100 TB.

    The result is exact (candidates are a superset; verification
    prunes), so it is DuckDB-differential-tested. ``exact=False``
    skips verification and returns candidates only (one pass, no
    counts).
    """
    if not 0 < support <= 1:
        raise ValueError(f"support must be in (0, 1], got {support}")
    cands = df.stat.freqItems([col], support).collect()[0][0]
    spark_col = F.col(col)
    if not cands:
        return (
            df.select(spark_col.alias("item"))
            .limit(0)
            .withColumn("n_rows", F.lit(0).cast("long"))
            .withColumn("frac", F.lit(0.0))
        )
    if not exact:
        # candidate superset only — type inferred from the values
        return df.sparkSession.createDataFrame([(c,) for c in cands], ["item"])
    total = df.count()
    counted = (
        df.filter(spark_col.isin(list(cands)))
        .groupBy(spark_col.alias("item"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("frac", F.col("n_rows") / F.lit(total))
        .filter(F.col("n_rows") >= support * total)
        .orderBy(F.desc("n_rows"), F.asc("item"))
    )
    return counted


def distinct_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lg_k: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Per-group HLL sketches of ``count distinct value_col``.

    One shuffle on ``keys`` with map-side partial sketching (Datasketches
    HLL unions are associative, so each map task emits one 2^lg_k-byte
    partial per group, not its rows). The output is the persistable
    sketch table: write it as parquet (binary column) and every later
    distinct-count rollup reads this table instead of the corpus.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias(sketch_col)
    )


def merge_distinct_sketches(
    df: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Roll sketches up to coarser groups (e.g. day → month) with
    hll_union_agg — kilobytes of mergeable state per group, raw data
    untouched. ``keys=[]`` gives the grand total."""
    agg = F.hll_union_agg(sketch_col).alias(sketch_col)
    return df.groupBy(*keys).agg(agg) if keys else df.groupBy().agg(agg)


def update_sketch_store(
    store: DataFrame,
    new_batch: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lg_k: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Incremental maintenance of a persisted sketch store: sketch the
    NEW batch only, union with the existing store, re-merge per key.
    The history contributes kilobyte sketches, never rows — the same
    per-batch shape as dedup.incremental_dedup, and the only
    distinct-count maintenance that survives a continuously-fed
    100 TB corpus. lg_k must match the store's (union at differing
    lg_k degrades to the coarser; keeping them equal keeps the
    union == direct-sketch identity exact)."""
    fresh = distinct_sketches(
        new_batch, keys, value_col, lg_k=lg_k, sketch_col=sketch_col
    )
    return merge_distinct_sketches(
        store.select(*keys, sketch_col).unionByName(fresh),
        list(keys),
        sketch_col=sketch_col,
    )


def with_estimates(
    df: DataFrame, sketch_col: str = "sketch", out_col: str = "distinct_est"
) -> DataFrame:
    """Materialize the distinct-count estimate (±~1.6%/sqrt(2^lg_k))
    and drop the binary sketch."""
    return df.withColumn(out_col, F.hll_sketch_estimate(sketch_col)).drop(sketch_col)


# --- KMV quantile sketch: persistable rank/percentile state ----------------
# Third family: per-group QUANTILES as state, not a number. Spark's
# percentile_approx output is a number, not re-aggregatable state. The
# sketch is a sample: the k rows with the SMALLEST deterministic hash
# priority (the bottom-k/KMV construction backing
# sampling.bottomk_sample). Sample quantiles carry the usual
# ±O(1/sqrt(k)) rank error.


def quantile_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    id_col: str,
    k: int = 256,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """Per-group mergeable quantile sketch: array of the group's k
    lowest-priority (xxhash64(id), value) pairs, priority-sorted. One
    shuffle on ``keys`` (window rank + filter ≥ collect) and the
    result is k rows of state per group — the persistable quantile
    store. ``id_col`` must be row-unique: the priority is the row's
    identity, which is what makes re-merging deterministic."""
    if k < 8:
        raise ValueError(f"k must be >= 8 (got {k})")
    from pyspark.sql import Window

    proj = df.select(
        *keys,
        F.xxhash64(F.lit("kmv"), F.col(id_col)).alias("__pri"),
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("double").alias("__val"),
    )
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(
        F.col("__pri").asc(), F.col("__id").asc()
    )
    return (
        proj.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .groupBy(*keys)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__pri").alias("pri"), F.col("__val").alias("val")
                    )
                )
            ).alias(sketch_col)
        )
    )


def quantile_estimates(
    df: DataFrame,
    qs: Sequence[float],
    sketch_col: str = "qsketch",
    prefix: str = "p",
) -> DataFrame:
    """Materialize quantile estimates from a sketch column: the sample
    is uniform (hash priority is independent of the value), so the
    q-quantile estimate is the element at rank round(q·(n-1)) of the
    sample's values sorted ascending. Adds one column per q and drops
    the sketch."""
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs must be fractions in [0, 1]: {qs}")
    vals = F.array_sort(
        F.transform(F.col(sketch_col), lambda s: s.getField("val"))
    )
    n = F.size(vals)
    out = df
    for q in qs:
        idx = F.round(F.lit(float(q)) * (n - F.lit(1))).cast("int") + F.lit(1)
        name = f"{prefix}{str(q).replace('0.', '').replace('.', '_')}"
        out = out.withColumn(name, F.element_at(vals, idx))
    return out.drop(sketch_col)
