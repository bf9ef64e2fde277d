"""r13 VERDICT 'what's wrong' #3 and r13 ADVICE regressions:

- expire_log evicts memoized WALKS below the cutoff, not just entry
  bytes — warm and cold sessions must agree that time travel to an
  expired version raises;
- version_at_timestamp under clock skew: probes that witness a
  timestamp inversion fall back to the exact linear scan; unwitnessed
  inversions follow documented monotone-clamp (Delta) semantics;
- cross-process table re-create at the same path is detected via the
  oldest entry's (version, size, mtime) signature and evicts the
  session caches;
- next_changes/consume_changes surface ``truncated`` so a non-looping
  consumer fails loudly instead of treating a partial range as the
  tip.

Extension-layer surface (no reference parity — the reference engine
has no versioned tables)."""

from __future__ import annotations

import json
import os
import shutil

import pytest


def _vt():
    from gedixr_spark.sinks import versioned as vt
    return vt


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_expire_evicts_warm_walks_below_cutoff(spark, tmp_path):
    """Warm-session time travel below the cutoff must raise exactly
    like a cold session — the memoized replay/schema walks for expired
    caps have to go with the entries."""
    vt = _vt()
    t = str(tmp_path / "t")
    vt.init_versioned(spark, t)
    for i in range(4):
        vt.commit_append(spark, t, _mk(spark, [(i, f"v{i}")]))
    # warm the walks for an early snapshot
    assert {r["k"] for r in vt.read_versioned(spark, t, version=2).collect()} == {0, 1}
    vt.checkpoint_log(spark, t)  # cutoff = 4
    expired = vt.expire_log(spark, t)
    assert expired == [0, 1, 2, 3]
    with pytest.raises(Exception):
        vt.read_versioned(spark, t, version=2).collect()
    # the surviving snapshot still reads fine from the checkpoint
    assert len(vt.read_versioned(spark, t).collect()) == 4
    # and a cold session agrees (caches dropped entirely)
    vt.reset_metadata_cache()
    with pytest.raises(Exception):
        vt.read_versioned(spark, t, version=2).collect()


def test_out_of_band_recreate_evicts_caches(spark, tmp_path):
    """Simulate ANOTHER process wiping and re-creating the table at
    the same path (this session's _atomic_create hook never fires):
    the next read must serve the NEW table, not cached entries."""
    vt = _vt()
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    vt.init_versioned(spark, ta)
    vt.commit_append(spark, ta, _mk(spark, [(1, "old")]))
    assert [r["v"] for r in vt.read_versioned(spark, ta).collect()] == ["old"]

    vt.init_versioned(spark, tb)
    vt.commit_append(spark, tb, _mk(spark, [(2, "new"), (3, "new")]))
    # out-of-band swap: plain file copy, no session hooks
    shutil.rmtree(ta)
    shutil.copytree(tb, ta, copy_function=shutil.copy)

    got = {(r["k"], r["v"]) for r in vt.read_versioned(spark, ta).collect()}
    assert got == {(2, "new"), (3, "new")}


def test_next_changes_reports_truncation(spark, tmp_path):
    from gedixr_spark.sinks.cursor import commit_cursor, next_changes

    vt = _vt()
    t = str(tmp_path / "t")
    vt.init_versioned(spark, t)
    for i in range(5):
        vt.commit_append(spark, t, _mk(spark, [(i, f"v{i}")]))  # v1..v5
    b = next_changes(spark, t, "c1", max_versions=2)
    assert (b["from_version"], b["to_version"], b["truncated"]) == (0, 2, True)
    commit_cursor(spark, t, "c1", b["to_version"])
    b = next_changes(spark, t, "c1", max_versions=2)
    assert (b["from_version"], b["to_version"], b["truncated"]) == (2, 4, True)
    commit_cursor(spark, t, "c1", b["to_version"])
    b = next_changes(spark, t, "c1", max_versions=2)
    assert (b["to_version"], b["truncated"]) == (5, False)
    commit_cursor(spark, t, "c1", 5)
    b = next_changes(spark, t, "c1", max_versions=2)
    assert b["changes"] is None and b["truncated"] is False


def test_consume_changes_reports_truncation(spark, tmp_path):
    from gedixr_spark.sinks.cursor import consume_changes

    vt = _vt()
    t = str(tmp_path / "t")
    vt.init_versioned(spark, t)
    for i in range(3):
        vt.commit_append(spark, t, _mk(spark, [(i, f"v{i}")]))
    seen = []
    r = consume_changes(
        spark, t, "c1", lambda df, f, to: seen.append((f, to)),
        max_versions=1,
    )
    assert r["consumed"] and r["truncated"]
    while r["consumed"]:
        r = consume_changes(
            spark, t, "c1", lambda df, f, to: seen.append((f, to)),
            max_versions=1,
        )
    assert not r["truncated"]
    assert seen == [(0, 1), (1, 2), (2, 3)]


def test_commit_guard_link_publish_is_atomic_and_clean(spark, tmp_path):
    """r14 (found by the threaded rebase stress): local commits publish
    via write-temp + hard-link, so an entry either does not exist or
    carries its FULL payload — no reader can see an empty file — and
    the CAS semantics hold: one winner, loser's payload discarded, no
    temp litter either way."""
    import os

    vt = _vt()
    target = str(tmp_path / "e.json")
    guard = vt.FsCommitGuard()
    assert guard.try_create(spark, target, b'{"v": 1}') is True
    assert guard.try_create(spark, target, b'{"v": 2}') is False
    with open(target, "rb") as f:
        assert f.read() == b'{"v": 1}'  # loser never clobbers
    leftovers = [n for n in os.listdir(tmp_path) if n.endswith(".tmp")]
    assert leftovers == []


def test_read_entry_never_caches_torn_bytes(spark, tmp_path):
    """A torn/empty entry (HDFS-window shape, or a pre-fix crash
    leftover) must raise a clear error after bounded retries and must
    NOT poison the entry cache: once the writer's bytes land, the next
    read succeeds."""
    import json
    import os

    vt = _vt()
    t = str(tmp_path / "t")
    vt.init_versioned(spark, t)
    # hand-plant an EMPTY version-1 entry (bypassing the atomic guard)
    p = os.path.join(vt._strip_scheme(vt._log_dir(t)), vt._entry_name(1))
    open(p, "wb").close()
    with pytest.raises(ValueError, match="unreadable after"):
        vt._read_entry(spark, t, 1)
    # writer's bytes arrive; the cache must not remember the torn read
    with open(p, "w") as f:
        json.dump({"version": 1, "op": "append", "add": [], "remove": [],
                   "schema": None, "meta": {}}, f)
    assert vt._read_entry(spark, t, 1)["op"] == "append"
