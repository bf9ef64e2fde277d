"""Skew-handling utilities for 100 TB-scale shuffles (SURVEY build
brief: "Skewed keys → salting or AQE skew-join").

AQE's skew-join splitting (on by default in session.py) handles most
join skew at runtime. These helpers cover the cases AQE doesn't:
- hot-key AGGREGATIONS (AQE only splits join partitions), via
  two-phase salted aggregation;
- joins against a skewed fact side where the dim side is broadcastable
  per hot key, via key-replication salting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Aggregations that can be split into (partial, merge) pairs.
_SPLITTABLE = {
    "count": (F.count, F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    ``aggs`` maps output column → (agg_name, input_column). Phase 1
    aggregates by (keys…, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 merges the tiny per-salt partials
    by the real keys. Only algebraic aggregates (count/sum/min/max)
    split this way; avg = sum/count composed by the caller.

    At 32 partitions a 50%-hot key caps speedup at 2×; at 1000
    executors the same key is the difference between one straggler
    doing half the job and 16 reducers doing 1/16 each.
    """
    for name, (fn, _col) in aggs.items():
        if fn not in _SPLITTABLE:
            raise ValueError(f"{fn!r} is not a splittable aggregate (use {sorted(_SPLITTABLE)})")
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("__salt")
    phase1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *[
            _SPLITTABLE[fn][0](c).alias(f"__p_{out}")
            for out, (fn, c) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            _SPLITTABLE[fn][1](f"__p_{out}").alias(out)
            for out, (fn, _c) in aggs.items()
        ]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skewed-fact ⋈ small-dim equi-join with key replication.

    The fact side gets a random salt in [0, buckets); the dim side is
    exploded ``buckets``× (one row per salt value) so every salted fact
    key finds its match. The shuffle key becomes (on, salt) — a hot key
    spreads over ``buckets`` reducers. Use when the dim side is small
    enough to replicate but too large (or too hot) to broadcast whole.

    Only inner/left are valid: the replicated dim side would emit one
    spurious row per salt bucket for unmatched keys under right/full
    joins, silently corrupting results — rejected explicitly.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only (got {how!r}); "
            "right/full would duplicate unmatched dim keys per salt bucket"
        )
    fact_s = fact.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>"))
    )
    return fact_s.join(dim_s, on=[on, "__salt"], how=how).drop("__salt")


_FAN_OUT_MEMO: dict[tuple[str, str], bool] = {}


def fan_out(
    df: DataFrame, min_partitions: int | None = None, memo_key: str | None = None
) -> DataFrame:
    """Spread a small or unsplittable scan across the cluster before
    CPU-heavy per-row work.

    A parquet file written as a single row group is unsplittable: the
    scan plans ONE task regardless of maxPartitionBytes, and every
    map-side expression downstream (hashing, shingling, ray-casts) runs
    on one core while the rest of the cluster idles. A guarded
    round-robin repartition fixes that. The guard makes it free at real
    scale: a 100 TB scan already has far more partitions than cores, so
    this is a no-op there — no extra shuffle is introduced.

    The partition-count probe (``df.rdd``) costs a physical-planning
    pass; pass ``memo_key`` (e.g. the file path) to pay it once per
    session instead of once per query.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if memo_key is not None:
        key = (spark.sparkContext.applicationId, memo_key)
        needs = _FAN_OUT_MEMO.get(key)
        if needs is None:
            needs = df.rdd.getNumPartitions() < target
            _FAN_OUT_MEMO[key] = needs
    else:
        needs = df.rdd.getNumPartitions() < target
    return df.repartition(target) if needs else df


def key_histogram(df: DataFrame, key: str, top: int = 20) -> DataFrame:
    """Diagnostic: per-key row counts, descending — the first thing to
    look at when a stage has one straggling task."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.desc("n_rows"))
        .limit(top)
    )
