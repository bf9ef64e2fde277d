"""Streaming bronze landing: continuous ingest of a landing directory
into partitioned parquet with exactly-once semantics (the 100 TB ingest
front door; batch extract_data is the backfill twin).

Checkpointing gives exactly-once file-to-bronze delivery: a crashed run
resumes from the checkpoint without duplicating or dropping input
files. Partitioning by acquisition date materializes the temporal
pruning layout every downstream query relies on (SCALE.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def bronze_landing_query(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_col: str | None = "acq_date",
    ts_col: str = "ts",
    available_now: bool = False,
) -> StreamingQuery:
    """Start the landing stream: derive the date partition column from
    event time and append to parquet. ``available_now=True`` drains the
    backlog and stops (the batch-catchup mode); otherwise it runs
    continuously."""
    out = events
    if partition_col:
        out = out.withColumn(partition_col, F.to_date(F.col(ts_col)))
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if partition_col:
        writer = writer.partitionBy(partition_col)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bronze_with_metrics_query(
    events: DataFrame,
    out_dir: str,
    metrics_dir: str,
    checkpoint_dir: str,
    partition_col: str | None = "acq_date",
    ts_col: str = "ts",
    available_now: bool = False,
) -> StreamingQuery:
    """Landing + per-batch ingest metrics in ONE exactly-once stream.

    The parquet sink alone can't also record row counts; two separate
    streams would double-read the source and could diverge on crash.
    ``foreachBatch`` runs both writes inside one micro-batch with the
    shared checkpoint — and makes the METRICS write idempotent by
    keying on ``batch_id``: on restart-after-partial-failure Spark
    re-runs the last batch, the data append is deduplicated by the
    sink's transaction log, and the metrics row for that batch_id is
    overwritten (partitioned by batch_id, dynamic-overwrite-by-rename
    semantics via per-batch subdirectory) instead of duplicated. This
    is the standard exactly-once multi-sink recipe when one of the
    sinks isn't natively idempotent.

    Metrics schema: (batch_id, n_rows, n_null_ts) — extend in one
    place; stays driver-cheap because each batch aggregates before the
    write."""
    if partition_col:
        events = events.withColumn(partition_col, F.to_date(F.col(ts_col)))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("append")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(out_dir)
        metrics = batch_df.groupBy().agg(
            F.lit(batch_id).alias("batch_id"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(ts_col).isNull().cast("long")).alias("n_null_ts"),
        )
        # idempotent per-batch slot: rerun of batch N overwrites
        # exactly batch=N, never appends a duplicate metrics row
        metrics.coalesce(1).write.mode("overwrite").parquet(
            f"{metrics_dir.rstrip('/')}/batch={batch_id}"
        )

    writer = events.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def commit_stream_batch(
    batch_df: DataFrame, table_path: str, batch_id: int
) -> dict | None:
    """Idempotent per-micro-batch append into a VERSIONED table (the
    `foreachBatch` body of `versioned_landing_query`, exposed so tests
    and manual recovery can replay a batch safely). The commit log
    itself is the idempotence ledger: each commit records its
    ``stream_batch_id``; a replayed batch (restart after a crash
    BETWEEN the commit and the checkpoint write) finds its id already
    in the history and becomes a no-op — the versioned twin of
    bronze_with_metrics_query's per-batch-slot overwrite trick, but
    stronger: the data append itself is exactly-once, not just the
    metrics. Returns the log entry, or None if the batch was already
    committed. History scan cost is one small-JSON read per commit;
    a long-lived stream should vacuum + checkpoint the log
    periodically (same maintenance Delta needs)."""
    from gedixr_spark.sinks.versioned import (
        commit_append, seen_stream_batch_ids,
    )

    spark = batch_df.sparkSession
    # ledger = checkpointed id set + surviving entries, so the dedup
    # survives checkpoint_log + expire_log on a long-lived stream
    if batch_id in seen_stream_batch_ids(spark, table_path):
        return None
    return commit_append(
        spark, table_path, batch_df, meta={"stream_batch_id": batch_id}
    )


def versioned_landing_query(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming ingest into a versioned table with exactly-once
    COMMITS: every micro-batch becomes one atomic log entry, so
    downstream batch readers always see a consistent snapshot (never a
    half-written batch), replays never double-append, and a bad batch
    is `rollback`-able by version. The versioned upgrade of
    `bronze_landing_query` — same checkpoint recovery, plus snapshot
    isolation and time travel over the landed history."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_stream_batch(batch_df, table_path, batch_id)

    writer = events.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_stream_batch(
    batch_df: DataFrame,
    table_path: str,
    batch_id: int,
    keys: list[str],
    order_col: str | None = None,
) -> dict | None:
    """Idempotent per-micro-batch CDC UPSERT into a versioned table —
    the `commit_stream_batch` twin for change streams. The batch is
    first compacted to one row per key (last-write-wins by
    ``order_col`` descending, ties broken deterministically by the
    full row; required when a micro-batch can carry several changes
    for one key), then applied with file-granularity
    `commit_upsert`. Replayed batch ids no-op via the commit-log
    ledger, so restart-after-crash never double-applies a batch."""
    from pyspark.sql import Window

    from gedixr_spark.sinks.versioned import (
        commit_upsert, seen_stream_batch_ids,
    )

    spark = batch_df.sparkSession
    if batch_id in seen_stream_batch_ids(spark, table_path):
        return None
    if order_col is not None:
        w = Window.partitionBy(*keys).orderBy(
            F.col(order_col).desc(), *[F.col(c).desc() for c in batch_df.columns]
        )
        batch_df = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return commit_upsert(
        spark, table_path, batch_df, keys=keys,
        meta={"stream_batch_id": batch_id},
    )


def delete_stream_batch(
    batch_df: DataFrame,
    table_path: str,
    batch_id: int,
    keys: list[str],
    mode: str = "dv",
) -> dict | None:
    """Idempotent per-micro-batch TOMBSTONE DELETE — the
    `upsert_stream_batch` twin for the delete half of a CDC feed. The
    batch carries the KEYS of rows to remove; they apply with the
    fully-distributed `commit_delete_keys` (defaults to the
    deletion-vector mode: a streaming tombstone trickle must not
    rewrite data files every micro-batch — the periodic
    ``commit_compact(purge_dvs=True)`` maintenance pass materializes
    the accumulated DVs instead). Replayed batch ids no-op via the
    commit-log ledger. A batch that matches NOTHING still burns a
    tiny metadata-only commit to record its id: without it a
    crash-replay could re-apply the tombstones AFTER the paired
    upsert stream inserted the key — deleting a row whose insert
    logically followed the tombstone in the feed, the exact
    double-apply the ledger exists to prevent (r11 review finding)."""
    from gedixr_spark.sinks.versioned import (
        ConcurrentCommitError, _commit, _list_log_versions,
        commit_delete_keys, seen_stream_batch_ids,
    )

    spark = batch_df.sparkSession
    if batch_id in seen_stream_batch_ids(spark, table_path):
        return None
    res = commit_delete_keys(
        spark, table_path, batch_df, keys=keys, mode=mode,
        meta={"stream_batch_id": batch_id},
    )
    if res.get("op") != "noop":
        return res
    # metadata-only ledger marker (add/remove empty — conflict-free,
    # so a version collision retries safely like an append)
    meta = {"stream_batch_id": batch_id, "noop": True, "n_deleted": 0}
    for _ in range(5):
        base = _list_log_versions(spark, table_path)[-1]
        try:
            return _commit(
                spark, table_path, "delete", [], [], None, meta, base + 1
            )
        except ConcurrentCommitError:
            continue
    raise ConcurrentCommitError(
        f"could not record the no-op ledger marker for stream batch "
        f"{batch_id} at {table_path} after 5 attempts"
    )


def versioned_delete_query(
    tombstones: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    mode: str = "dv",
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming CDC delete-apply: each micro-batch of tombstone keys
    removes its rows from the versioned table as one atomic commit
    (exactly-once via checkpoint + the log ledger). Pairs with
    `versioned_upsert_query` to cover a full CDC feed's
    upsert/delete halves."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        delete_stream_batch(batch_df, table_path, batch_id, keys, mode)

    writer = tombstones.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def versioned_upsert_query(
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming CDC apply: each micro-batch of change rows upserts
    into the versioned table as one atomic commit (exactly-once via
    checkpoint + the log ledger). The streaming front door for
    mutable entities — the append twin is `versioned_landing_query`."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_stream_batch(batch_df, table_path, batch_id, keys, order_col)

    writer = changes.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
