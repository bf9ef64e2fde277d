"""Incrementally-maintained aggregates over a versioned table's change
feed — the materialized-view pattern that makes per-key statistics
affordable on a continuously-fed 100 TB corpus.

A dashboard-style per-key aggregate (counts, sums, min/max) recomputed
from scratch costs one full scan per refresh. But every algebraic
aggregate is MERGEABLE state: count and sum add, min/max combine, and
mean/stddev derive from (n, Σx, Σx²). So the refresh only needs to
(1) aggregate the NEW rows since the last refresh — which
`sinks.versioned.read_appended` serves at file granularity without
touching old data — and (2) merge batch partials into the persisted
state, a key-count-sized shuffle. Cost per refresh is proportional to
the DELTA, never the corpus.

The state table is itself stored as a versioned table, so the refresh
is atomic, the state has history, and `last_version` rides in the
commit log's meta — a crashed refresh never records a half-applied
watermark (the same ledger trick as streaming `commit_stream_batch`).

Supported aggregates stay deliberately algebraic: ``count``, ``sum``,
``min``, ``max`` (+ derived ``mean`` at read time). Holistic
aggregates (exact median, exact distinct) are NOT incrementally
maintainable from partials — use the sketch stores
(`sketches.update_sketch_store` for distinct, `quantile_sketches` for
percentiles) which exist precisely for those.

No reference counterpart; §7.4 extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gedixr_spark.sinks.versioned import (
    commit_overwrite,
    init_versioned,
    read_appended,
    read_versioned,
    table_history,
)

_STATE_COLS = ("__n", "__sum", "__min", "__max")


def _aggregate_batch(
    batch: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    v = F.col(value_col).cast("double")
    return batch.groupBy(*keys).agg(
        F.count(v).alias("__n"),
        F.sum(v).alias("__sum"),
        F.min(v).alias("__min"),
        F.max(v).alias("__max"),
    )


def _merge_states(parts: DataFrame, keys: Sequence[str]) -> DataFrame:
    return parts.groupBy(*keys).agg(
        F.sum("__n").alias("__n"),
        F.sum("__sum").alias("__sum"),
        F.min("__min").alias("__min"),
        F.max("__max").alias("__max"),
    )


def init_incremental_agg(
    spark: SparkSession, state_path: str
) -> dict:
    """Create the (versioned) state table for a maintained aggregate."""
    return init_versioned(spark, state_path)


def _advance_watermark(
    spark: SparkSession, state_path: str, to_version: int
) -> dict:
    """Record ``source_version`` with a METADATA-ONLY commit (empty
    add/remove) when a refresh found nothing to change — without it
    the next refresh re-diffs an ever-growing source range. The empty
    marker is conflict-free (no files touched), so a lost version race
    retries like an append; every replay/feed path skips empty
    entries."""
    from gedixr_spark.sinks.versioned import (
        ConcurrentCommitError,
        _commit,
        _list_log_versions,
    )

    meta = {"source_version": to_version, "noop": True}
    for _ in range(5):
        base = _list_log_versions(spark, state_path)[-1]
        try:
            return _commit(
                spark, state_path, "metadata", [], [], None, meta, base + 1
            )
        except ConcurrentCommitError:
            continue
    raise ConcurrentCommitError(
        f"could not record the refresh watermark at {state_path} "
        "after 5 attempts"
    )


def snapshot_row_count_safe(spark: SparkSession, state_path: str) -> int:
    """`snapshot_row_count` with the scan fallback inlined — state
    commits record per-file counts (stats_cols), so this is normally a
    metadata read; pre-r12 state tables without stats fall back."""
    from gedixr_spark.sinks.versioned import snapshot_row_count

    n = snapshot_row_count(spark, state_path)
    if n is None:
        n = read_versioned(spark, state_path).count()
    return int(n)


def refresh_incremental_agg(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    keys: Sequence[str],
    value_col: str,
) -> dict:
    """Advance the maintained aggregate to the source table's latest
    version: aggregate only the rows appended since the recorded
    watermark, merge into the persisted per-key state, commit state +
    new watermark atomically. Returns {from_version, to_version,
    n_keys}. Refreshing with no new source versions is a no-op.

    The source must be append-only history (read_appended enforces and
    raises otherwise) — for upsert/delete tables, recompute or use
    diff-based correction; silently merging rewritten rows would
    double-count."""
    src_hist = table_history(spark, source_path)
    to_version = src_hist[-1]["version"]
    st_hist = table_history(spark, state_path)
    last = None
    for e in reversed(st_hist):
        if "source_version" in e.get("meta", {}):
            last = e["meta"]["source_version"]
            break
    from_version = last if last is not None else 0
    if from_version >= to_version:
        return {
            "from_version": from_version,
            "to_version": to_version,
            "n_keys": None,
        }
    delta = read_appended(spark, source_path, from_version, to_version)
    fresh = _aggregate_batch(delta, keys, value_col)
    try:
        old = read_versioned(spark, state_path)
        if len(old.columns) == 0:
            has_state = False
        else:
            # metadata-first emptiness probe: every state commit
            # records per-file row counts (stats_cols), so the probe
            # normally costs zero jobs; only a state table written
            # without stats pays the one-row scan fallback
            from gedixr_spark.sinks.versioned import snapshot_row_count

            n_live = snapshot_row_count(spark, state_path)
            has_state = (
                n_live > 0 if n_live is not None
                else old.limit(1).count() > 0
            )
    except ValueError:  # no schema recorded yet — first refresh
        has_state = False
    merged = (
        _merge_states(old.unionByName(fresh), keys) if has_state else fresh
    )
    # the watermark rides on the state commit itself: state and
    # source_version move in ONE atomic log entry, so a crash can
    # never record one without the other. stats_cols makes the commit
    # record per-file row counts, so n_keys is a metadata read after
    # the write instead of a full extra evaluation of `merged` before
    # it (the union+groupBy lineage ran twice for one number).
    commit_overwrite(
        spark, state_path, merged, meta={"source_version": to_version},
        stats_cols=[],
    )
    n_keys = snapshot_row_count_safe(spark, state_path)
    return {
        "from_version": from_version,
        "to_version": to_version,
        "n_keys": n_keys,
    }


def refresh_incremental_agg_cdc(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    keys: Sequence[str],
    value_col: str,
    state_partitions: int | None = None,
) -> dict:
    """`refresh_incremental_agg` for sources taking UPSERTS, DELETES,
    and MERGES: the delta comes from the row-level CDC feed
    (`sinks.versioned.table_changes`) with insert/update_postimage
    rows contributing +(1, v) and delete/update_preimage rows
    contributing −(1, v) — retraction-based view maintenance, the
    standard trick that makes count/sum/mean maintainable under
    churn. Keys whose count retracts to zero leave the state.

    Deliberately maintains only the SUBTRACTABLE aggregates (count,
    sum, derived mean): min/max cannot be repaired when their witness
    row is deleted without re-scanning the group, which is exactly the
    cost this view exists to avoid — the append-only variant keeps
    them, this one doesn't (`read_incremental_agg_cdc`).

    Exactness caveat: subtraction is exact for integer-valued doubles
    (all TPC-H-ish monetary columns here); true floating sums can
    accumulate retraction residue — route those through the append-only
    variant or a periodic full recompute.

    STATE COMMIT IS A KEYED MERGE, NOT AN OVERWRITE (r11 VERDICT #1a):
    the per-key deltas apply to the persisted state with
    `commit_merge` — matched keys update in place
    (``t.__n + s.__n``), keys retracting to zero leave via
    ``when_matched_delete``, brand-new keys insert. Because merge is
    file-granular, a refresh only rewrites the STATE FILES that
    contain churned keys; the bootstrap commit range-clusters the
    state by key (with per-file key stats) precisely so churn locality
    translates into file locality. Cost per refresh: the churned
    slices of the source (table_changes is file-granular) plus a
    churned-keys-sized merge against the churned state files — never
    the corpus, and no longer ever the full state. A delta carrying
    NULL group keys (legal: SQL GROUP BY groups them) falls back to
    the full union-rewrite for that refresh — merge keys must be
    non-NULL."""
    src_hist = table_history(spark, source_path)
    to_version = src_hist[-1]["version"]
    st_hist = table_history(spark, state_path)
    last = None
    for e in reversed(st_hist):
        if "source_version" in e.get("meta", {}):
            last = e["meta"]["source_version"]
            break
    from_version = last if last is not None else 0
    if from_version >= to_version:
        return {
            "from_version": from_version,
            "to_version": to_version,
            "n_keys": None,
        }
    from gedixr_spark.sinks.versioned import table_changes

    ch = table_changes(spark, source_path, from_version, to_version)
    v = F.col(value_col).cast("double")
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"),
        F.lit(1),
    ).otherwise(F.lit(-1))
    fresh = (
        ch.groupBy(*keys)
        .agg(
            F.sum(F.when(v.isNotNull(), sign).otherwise(0)).alias("__n"),
            F.sum(v * sign).alias("__sum"),
        )
        # an update pair that changed OTHER columns nets (0, 0) — a
        # provable no-op for this view; dropping it here keeps the
        # merge from rewriting that key's state file for nothing
        .filter(
            (F.col("__n") != 0)
            | (F.coalesce(F.col("__sum"), F.lit(0.0)) != 0.0)
        )
        # the delta feeds the routing probe AND commit_merge's several
        # pre-write actions — pin the (expensive at scale) per-commit
        # feed diff so it executes once, not once per action
        .localCheckpoint(eager=False)
    )
    try:
        old = read_versioned(spark, state_path)
        if len(old.columns) == 0:
            has_state = False
        else:
            # metadata-first emptiness probe: every state commit
            # records per-file row counts (stats_cols), so the probe
            # normally costs zero jobs; only a state table written
            # without stats pays the one-row scan fallback
            from gedixr_spark.sinks.versioned import snapshot_row_count

            n_live = snapshot_row_count(spark, state_path)
            has_state = (
                n_live > 0 if n_live is not None
                else old.limit(1).count() > 0
            )
    except ValueError:  # no schema recorded yet — first refresh
        has_state = False
    if not has_state:
        # bootstrap: range-cluster by key with per-file key stats so
        # every later refresh's merge discovery prunes to the files
        # actually holding churned keys
        state0 = fresh.filter(F.col("__n") > 0)
        n_part = (
            int(state_partitions)
            if state_partitions is not None
            else int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
        state0 = state0.repartitionByRange(
            n_part, *keys
        ).sortWithinPartitions(*keys)
        commit_overwrite(
            spark, state_path, state0,
            meta={"source_version": to_version},
            stats_cols=list(keys),
        )
        # the overwrite just recorded per-file row counts — the key
        # count is a metadata read, not another scan job
        n_keys = snapshot_row_count_safe(spark, state_path)
        return {
            "from_version": from_version,
            "to_version": to_version,
            "n_keys": n_keys,
        }
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    # one churn-sized aggregate answers both routing questions:
    # is the delta empty, and does it carry NULL group keys
    probe = fresh.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(null_key, 1).otherwise(0)).alias("has_null"),
    ).collect()[0]
    if probe["n"] == 0:
        # nothing churned in the range (compaction-only commits, or
        # updates that cancelled): advance the watermark with a
        # metadata-only marker so the next refresh doesn't re-diff an
        # ever-growing range
        _advance_watermark(spark, state_path, to_version)
        n_keys = snapshot_row_count_safe(spark, state_path)
        return {
            "from_version": from_version,
            "to_version": to_version,
            "n_keys": n_keys,
        }
    if probe["has_null"]:
        # merge keys must be non-NULL; a NULL-grouped delta (rare,
        # legal) falls back to the full union-rewrite for this refresh
        merged = (
            old.unionByName(fresh)
            .groupBy(*keys)
            .agg(F.sum("__n").alias("__n"), F.sum("__sum").alias("__sum"))
            .filter(F.col("__n") > 0)
        )
        n_keys = merged.count()
        commit_overwrite(
            spark, state_path, merged,
            meta={"source_version": to_version},
            stats_cols=list(keys),
        )
        return {
            "from_version": from_version,
            "to_version": to_version,
            "n_keys": n_keys,
        }
    from gedixr_spark.sinks.versioned import commit_merge

    # NULL-safe running sum: SUM semantics ignore NULL sides (a key
    # whose every value was NULL carries __sum NULL, not 0)
    add_sum = (
        "CASE WHEN t.__sum IS NULL THEN s.__sum "
        "WHEN s.__sum IS NULL THEN t.__sum "
        "ELSE t.__sum + s.__sum END"
    )
    res = commit_merge(
        spark, state_path, fresh, keys=list(keys),
        when_matched_update={"__n": "t.__n + s.__n", "__sum": add_sum},
        when_matched_delete="t.__n + s.__n <= 0",
        when_not_matched_insert=True,
        meta={"source_version": to_version},
        stats_cols=list(keys),
    )
    if res.get("op") == "noop":
        # a non-empty delta can still merge to a no-op only when no
        # state file holds its keys AND nothing inserts — impossible
        # here (inserts enabled); guard anyway: the watermark must
        # still advance or the next refresh re-pays this range
        _advance_watermark(spark, state_path, to_version)
    # metadata-only count: every state commit records per-file row
    # counts (stats_cols), so the post-refresh key count costs
    # O(#files) JSON, not a scan
    n_keys = snapshot_row_count_safe(spark, state_path)
    return {
        "from_version": from_version,
        "to_version": to_version,
        "n_keys": n_keys,
    }


def read_incremental_agg_cdc(spark: SparkSession, state_path: str) -> DataFrame:
    """The CDC-maintained aggregate with derived columns: (keys...,
    n_rows, sum, mean)."""
    st = read_versioned(spark, state_path)
    return st.select(
        *[c for c in st.columns if c not in ("__n", "__sum")],
        F.col("__n").alias("n_rows"),
        F.col("__sum").alias("sum"),
        (F.col("__sum") / F.col("__n")).alias("mean"),
    )


def read_incremental_agg(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained aggregate with derived columns: (keys..., n_rows,
    sum, min, max, mean)."""
    st = read_versioned(spark, state_path)
    return st.select(
        *[c for c in st.columns if c not in _STATE_COLS],
        F.col("__n").alias("n_rows"),
        F.col("__sum").alias("sum"),
        F.col("__min").alias("min"),
        F.col("__max").alias("max"),
        (F.col("__sum") / F.col("__n")).alias("mean"),
    )
