"""Traced run (``--trace 1``): the per-layer metrics.

The run sets up like a timed run, but its sessions write the Spark event
log. After the warm-up it runs an untraced pass, a traced pass in which
every public call is a span with its own job group, and a second
untraced pass; ``gedi_reference`` adds to the traced pass a layer pass
that calls each layer's public function on its own and materializes its
output, so each layer gets its own span. Layer metrics come from the
spans, the status tracker and the event log. ``trace.overhead_s`` is the
traced pass's wall minus the mean of the two untraced walls (the event
log is on for all three, so its own cost is not in it).

Every metric in PER_LAYER is printed for every workload; a layer a
workload bypasses reads 0.
"""

from __future__ import annotations

from pathlib import Path

from perfbench import common

LAYERS = (
    "hdf5", "filters", "aoi_join", "geoparquet", "merge", "raster",
    "commit", "read", "feed",
)
NAMED = (
    "session.start_s", "driver_gap_s", "trace.overhead_s",
    "hdf5.read_s", "hdf5.opens_per_granule", "hdf5.arrow_bytes",
    "filters.s", "filters.kept_ratio",
    "aoi_join.s", "aoi_join.pip_rows", "aoi_join.match_ratio",
    "merge.s", "raster.s", "raster.cells",
    "geoparquet.write_s", "geoparquet.bytes", "geoparquet.files",
    "commit.append_s", "commit.upsert_s", "commit.merge_s",
    "commit.delete_cow_s", "commit.delete_dv_s", "commit.compact_s",
    "checkpoint.s", "vacuum.s", "commit.driver_gap_s",
    "meta.entry_hit_ratio", "meta.walk_computed_ratio",
    "read.snapshot_s", "read.time_travel_s", "read.point_s", "read.range_s",
    "read.files_per_lookup", "feed.consume_s",
)
PER_LAYER = NAMED + tuple(f"{l}.{m}" for l in LAYERS for m in common.EVENT_METRICS)

UNITS = {
    "jobs": "count", "tasks": "count", "pip_rows": "count", "cells": "count",
    "files": "count", "bytes": "B", "arrow_bytes": "B", "shuffle_bytes": "B",
    "spill_bytes": "B", "opens_per_granule": "ratio", "kept_ratio": "ratio",
    "match_ratio": "ratio", "entry_hit_ratio": "ratio",
    "walk_computed_ratio": "ratio", "files_per_lookup": "count",
}


def unit(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[-1], "s")


def traced_run(cls, seed: int, work: Path, set_up):
    ops = common.Ops()
    events = work / "eventlog"
    spark, wl, info = set_up(cls, seed, work, ops, event_log=events)
    # untraced, traced, untraced: the mean of the two untraced passes
    # cancels the warm-up drift between consecutive passes
    untraced = [wl.run_pass(common.Tracer(spark, False), ops, "untraced-1")["wall_s"]]
    tracer = common.Tracer(spark, True)
    traced_pass, extra = wl.traced_pass(tracer, ops)
    untraced.append(wl.run_pass(common.Tracer(spark, False), ops, "untraced-2")["wall_s"])
    spark.stop()
    log = common.read_event_log(events)

    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update(common.layer_metrics(tracer.spans, log, LAYERS))
    metrics.update(wl.layer_named(tracer, log, traced_pass, extra))
    metrics["session.start_s"] = info["session_start_s"]
    metrics["driver_gap_s"] = common.driver_gap_s(tracer.passes[:1], log)
    metrics["trace.overhead_s"] = traced_pass["wall_s"] - sum(untraced) / 2
    traced_groups = {s["group"] for s in tracer.spans}
    info.update(
        untraced_wall_s=untraced, traced_wall_s=traced_pass["wall_s"], spans=len(tracer.spans),
        tracker_jobs=sum(s["tracker_jobs"] for s in tracer.spans),
        event_log_jobs=sum(j["group"] in traced_groups for j in log["jobs"].values()),
    )
    return {k: (v, unit(k)) for k, v in metrics.items()}, ops, info
