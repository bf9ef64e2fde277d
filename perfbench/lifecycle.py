"""``table_lifecycle``: a seed-generated keyed table taken through every
commit type of ``sinks.versioned``, with reads interleaved.

A pass builds a fresh table at a new path: two appends, an upsert, a
merge with matched-delete, a copy-on-write delete, a deletion-vector
delete and a DV-purging compaction, then a checkpoint, a change-feed
consumer (``sinks.cursor``) and a vacuum. After every commit it reads the
latest snapshot plus one of: a time-travel snapshot, ``read_point`` or
``read_where``. Every read is compared with a dict model replaying the
same op sequence; the feed consumer replays the change rows it receives
onto its own replica, which must equal the model. The metadata caches are
never reset, so later passes run against warm caches as a long-lived
driver would.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from perfbench.common import Ops, dir_bytes, rm

ROWS = 2000              # rows per append batch
SCHEMA = "id long, name string, val double"
STATS = {"stats_cols": ["id"], "bloom_cols": ["name"]}


def _name(i: int) -> str:
    return f"k{i:07d}"


def _rows(ids, vals) -> list[tuple]:
    return [(int(i), _name(int(i)), float(v)) for i, v in zip(ids, vals)]


def plan(seed: int) -> list[tuple]:
    """The op sequence of one pass, with its input rows. Sizes are fixed;
    the seed picks keys and values."""
    rng = np.random.default_rng(seed)

    def vals(n):
        return rng.integers(0, 10_000, n)

    a = np.arange(0, ROWS)
    b = np.arange(ROWS, 2 * ROWS)
    up1 = np.concatenate([rng.choice(2 * ROWS, 400, replace=False), np.arange(2 * ROWS, 2 * ROWS + 200)])
    matched = rng.choice(np.arange(ROWS // 2, 2 * ROWS), 300, replace=False)
    merge_vals = vals(400)
    merge_vals[:50] = -1  # matched rows the merge deletes
    merge_ids = np.concatenate([matched, np.arange(2 * ROWS + 200, 2 * ROWS + 300)])
    dv_lo = int(rng.integers(0, 2 * ROWS - 200))
    mod = int(rng.integers(0, 11))
    return [
        ("append", _rows(a, vals(len(a)))),
        ("append", _rows(b, vals(len(b)))),
        ("upsert", _rows(up1, vals(len(up1)))),
        ("merge", _rows(merge_ids, merge_vals)),
        ("delete_cow", mod),
        ("delete_dv", (dv_lo, dv_lo + 150)),
        ("compact", None),
    ]


def apply_model(model: dict, op: str, arg) -> dict:
    """Dict-model replay of one commit: id -> (id, name, val)."""
    m = dict(model)
    if op in ("append", "upsert"):
        m.update({r[0]: r for r in arg})
    elif op == "merge":
        for r in arg:
            if r[0] in m and r[2] < 0:
                del m[r[0]]
            else:
                m[r[0]] = r
    elif op == "delete_cow":
        m = {k: v for k, v in m.items() if k % 11 != arg}
    elif op == "delete_dv":
        lo, hi = arg
        m = {k: v for k, v in m.items() if not lo <= k <= hi}
    return m


def _as_rows(rows) -> list[tuple]:
    return sorted((r["id"], r["name"], r["val"]) for r in rows)


class TableLifecycle:
    name = "table_lifecycle"

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.ops = plan(self.seed)
        self.rng = np.random.default_rng([self.seed, 1])

    def bind(self, spark) -> None:
        self.spark = spark

    def _commit(self, path: str, op: str, arg):
        from pyspark.sql import functions as F

        from gedixr_spark.sinks import versioned as V

        spark = self.spark
        if op == "append":
            return V.commit_append(spark, path, spark.createDataFrame(arg, SCHEMA), **STATS)
        if op == "upsert":
            return V.commit_upsert(spark, path, spark.createDataFrame(arg, SCHEMA), keys=["id"], **STATS)
        if op == "merge":
            return V.commit_merge(
                spark, path, spark.createDataFrame(arg, SCHEMA), keys=["id"],
                when_matched_update="all", when_matched_delete="s.val < 0", **STATS,
            )
        if op == "delete_cow":
            return V.commit_delete(spark, path, F.col("id") % 11 == arg, stats_cols=["id"])
        if op == "delete_dv":
            return V.commit_delete(spark, path, F.col("id").between(*arg), mode="dv")
        if op == "compact":
            return V.commit_compact(spark, path, **STATS)
        raise ValueError(op)

    def _read(self, path: str, kind: str, version: int, models: dict):
        """Run one read; returns (rows, expected rows, lookup) where
        lookup names the point or range probed, for files-per-lookup."""
        from gedixr_spark.sinks import versioned as V

        spark, model = self.spark, models[version]
        if kind == "snapshot":
            return V.read_versioned(spark, path).collect(), model, None
        if kind == "time_travel":
            v = max(1, version - 2)
            return V.read_versioned(spark, path, version=v).collect(), models[v], None
        keys = sorted(model) or [0]
        if kind == "point":
            k = keys[int(self.rng.integers(0, len(keys)))]
            got = V.read_point(spark, path, "name", _name(k)).collect()
            return got, {k: model[k]} if k in model else {}, (version, kind, _name(k))
        lo = keys[int(self.rng.integers(0, len(keys)))]
        got = V.read_where(spark, path, "id", lo, lo + 300).collect()
        want = {k: v for k, v in model.items() if lo <= k <= lo + 300}
        return got, want, (version, kind, (lo, lo + 300))

    def run_pass(self, tracer, ops: Ops, i, lookups: list | None = None) -> dict:
        """One pass on a fresh table. With ``lookups`` (traced pass), the
        number of files each point/range read had to scan is appended,
        computed after the timer from the public pruning functions."""
        from gedixr_spark.sinks import versioned as V
        from gedixr_spark.sinks.cursor import consume_changes

        spark = self.spark
        path = str(self.work / f"table-{i}")
        commits, reads, probes = [], [], []
        replica: dict = {}
        models = {0: {}}
        kinds = ("time_travel", "point", "range")

        def feed(changes, frm, to):
            rows = changes.collect()
            for r in sorted(rows, key=lambda r: (r["_commit_version"], r["_change_type"] not in ("delete", "update_preimage"))):
                if r["_change_type"] in ("delete", "update_preimage"):
                    replica.pop(r["id"], None)
                else:
                    replica[r["id"]] = (r["id"], r["name"], r["val"])

        with tracer.pass_timer() as timer:
            V.init_versioned(spark, path)
            version = 0
            for n, (op, arg) in enumerate(self.ops):
                with tracer.span("commit", f"commit.{op}") as s:
                    self._commit(path, op, arg)
                commits.append(s["s"])
                version += 1
                models[version] = apply_model(models[version - 1], op, arg)
                for kind in ("snapshot", kinds[n % 3]):
                    with tracer.span("read", f"read.{kind}") as s:
                        got, want, probe = self._read(path, kind, version, models)
                    reads.append(s["s"])
                    if probe is not None:
                        probes.append(probe)
                    ok = _as_rows(got) == sorted(want.values())
                    ops.check(f"read.{kind}", ok)
                    if kind == "snapshot":
                        # the commit is judged by the snapshot it leaves
                        ops.check(f"commit.{op}", ok)
            with tracer.span("commit", "checkpoint"):
                V.checkpoint_log(spark, path)
            with tracer.span("feed", "feed.consume") as s:
                res = consume_changes(spark, path, "perfbench", feed, max_versions=None)
            reads.append(s["s"])
            ops.check("feed.consume", res["to_version"] == version and replica == models[version])
            with tracer.span("commit", "vacuum"):
                V.vacuum_versioned(spark, path, keep_last=1, retention_hours=0)
        got = V.read_versioned(spark, path).collect()
        ops.check("vacuum", _as_rows(got) == sorted(models[version].values()))
        live = V.live_files(spark, path)
        live_bytes = sum((Path(path) / "data" / f).stat().st_size for f in live)
        amp = dir_bytes(Path(path)) / live_bytes
        for version, kind, arg in probes if lookups is not None else ():
            if kind == "point":
                files, _ = V.files_for_point(spark, path, "name", arg, version=version)
            else:
                files, _ = V.files_for_range(spark, path, "id", *arg, version=version)
            lookups.append(len(files))
        rm(Path(path))
        return {"wall_s": timer["s"], "commits": commits, "reads": reads, "storage_amp": amp}

    # ------------------------------------------------------------ tracing

    def traced_pass(self, tracer, ops: Ops) -> tuple[dict, dict]:
        from gedixr_spark.sinks.versioned import metadata_cache_stats

        before = metadata_cache_stats()
        lookups: list[int] = []
        traced = self.run_pass(tracer, ops, "traced", lookups=lookups)
        after = metadata_cache_stats()
        return traced, {"meta": (before, after), "lookups": lookups}

    def layer_named(self, tracer, log: dict, traced: dict, extra: dict) -> dict:
        from perfbench.common import driver_gap_s, median

        def by_name(name):
            return [s for s in tracer.spans if s["name"] == name]

        def mean_s(name):
            spans = by_name(name)
            return sum(s["s"] for s in spans) / len(spans) if spans else 0.0

        before, after = extra["meta"]
        hits = after["entry_hits"] - before["entry_hits"]
        reads = after["entry_reads"] - before["entry_reads"]

        def walks(stats, key):
            return sum(w[key] for w in stats["walks"].values())

        calls = walks(after, "calls") - walks(before, "calls")
        computed = walks(after, "computed") - walks(before, "computed")
        commit_spans = [s for s in tracer.spans if s["name"].startswith("commit.")]
        out = {f"{s}_s": mean_s(s) for s in {x["name"] for x in commit_spans}}
        out.update({
            "checkpoint.s": mean_s("checkpoint"),
            "vacuum.s": mean_s("vacuum"),
            "commit.driver_gap_s": driver_gap_s(commit_spans, log) / len(commit_spans),
            "meta.entry_hit_ratio": hits / (hits + reads) if hits + reads else 0.0,
            "meta.walk_computed_ratio": computed / calls if calls else 0.0,
            "read.snapshot_s": mean_s("read.snapshot"),
            "read.time_travel_s": mean_s("read.time_travel"),
            "read.point_s": mean_s("read.point"),
            "read.range_s": mean_s("read.range"),
            "read.files_per_lookup": median(extra["lookups"]),
            "feed.consume_s": mean_s("feed.consume"),
        })
        return out
