"""gedixr_spark benchmark runner.

    python3 perfbench/run.py --workload gedi_reference --seed 1 --seconds 25 --trace 0

Run from the root of a source checkout. It generates the workload's
inputs from ``--seed`` under ``.perfbench_work/``, drives the package only
through its public functions, checks every output, and prints one JSON
object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` (timed run) reports the end-to-end metrics:

- ``setup_s``: median over SETUPS set-ups of session start plus input
  generation (the first also launches the JVM), plus one untimed warm-up
  pass;
- ``wall_s``: median wall time of the timed passes, run until
  ``--seconds`` have elapsed;
- ``peak_rss_mb``: peak RSS of the driver Python process plus the JVM;
- ``ok_ops_ratio``: operations that returned a correct result over
  operations attempted (1 - failed_ops; a ratio that is never 0);
- ``commit_p50_s``: median latency of the write operations (table
  commits; the ``extract_data`` calls that save GeoParquet);
- ``storage_amp``: bytes under the output directory over the parquet
  bytes of the live data, at the end of a pass.

The info line before the result carries the wall time of each timed
pass, the read latencies (snapshot, time-travel, point and range reads
and the change-feed consumer; the merge-and-grid step of
``gedi_reference``) and the p90s, with their sample counts. They are not
metrics: a run holds two or three passes, so 6 to 21 commits and 2 to 45
reads, too few for a p90 with ten samples beyond it, and the median of a
run's sub-second reads moved 20-30 % between runs on an unchanged build.

``--trace 1`` reports the per-layer metrics of one traced pass (see
``trace.py``); timed runs never trace.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3


def _workloads() -> dict:
    from perfbench.gedi import GediReference
    from perfbench.lifecycle import TableLifecycle

    return {w.name: w for w in (GediReference, TableLifecycle)}


def set_up(cls, seed: int, work: Path, ops, event_log: Path | None = None) -> tuple:
    """SETUPS set-ups (session start + input generation), then one
    untimed warm-up pass on the last. Returns (spark, workload, info)."""
    from perfbench import common

    spark, wl, times, starts = None, None, [], []
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
            common.rm(wl.work)
        t0 = time.perf_counter()
        spark, start_s = common.start_session(event_log)
        wl = cls(seed, work / f"setup-{k}")
        wl.generate()
        wl.bind(spark)
        times.append(time.perf_counter() - t0)
        starts.append(start_s)
    t0 = time.perf_counter()
    wl.run_pass(common.Tracer(spark, False), ops, "warm")
    warm = time.perf_counter() - t0
    info = {
        "setup_s": common.median(times) + warm,
        "session_start_s": common.median(starts),
        "warmup_s": warm,
    }
    return spark, wl, info


def timed_run(cls, seed: int, seconds: float, work: Path) -> tuple[dict, object, dict]:
    from perfbench import common

    ops = common.Ops()
    spark, wl, info = set_up(cls, seed, work, ops)
    tracer = common.Tracer(spark, False)
    passes = []
    t0 = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t0 < seconds:
        n += 1
        try:
            passes.append(wl.run_pass(tracer, ops, n))
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, the run goes on
            traceback.print_exc()
            ops.error("pass", e)
    if not passes:
        raise RuntimeError("every timed pass failed")
    commits = [x for p in passes for x in p["commits"]]
    reads = [x for p in passes for x in p["reads"]]
    py_mb, jvm_mb = common.peak_rss_mb()
    metrics = {
        "setup_s": (info["setup_s"], "s"),
        "wall_s": (common.median(p["wall_s"] for p in passes), "s"),
        "peak_rss_mb": (py_mb + jvm_mb, "MB"),
        "ok_ops_ratio": (1.0 - ops.failed / ops.attempted, "ratio"),
        "commit_p50_s": (common.median(commits), "s"),
        "storage_amp": (common.median(p["storage_amp"] for p in passes), "ratio"),
    }
    spark.stop()
    info.update(
        passes=len(passes), pass_walls_s=[p["wall_s"] for p in passes],
        commits=len(commits), reads=len(reads),
        commit_p90_s=common.percentile(commits, 90),
        read_p50_s=common.median(reads), read_p90_s=common.percentile(reads, 90),
        python_rss_mb=py_mb, jvm_rss_mb=jvm_mb,
    )
    return metrics, ops, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "gedixr_spark" / "__init__.py").is_file():
        print(f"gedixr_spark is not under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import common

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2
    work = common.WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    common.rm(work)
    work.mkdir(parents=True)
    try:
        env = common.pin_env(work)
        if args.trace:
            from perfbench.trace import traced_run

            metrics, ops, info = traced_run(workloads[args.workload], args.seed, work, set_up)
        else:
            metrics, ops, info = timed_run(workloads[args.workload], args.seed, args.seconds, work)
    finally:
        common.shutdown_jvm()
        common.rm(work)
        if common.WORK_ROOT.is_dir() and not any(common.WORK_ROOT.iterdir()):
            common.WORK_ROOT.rmdir()
    print(json.dumps({"env": env, "info": info, "errors": ops.errors}, sort_keys=True))
    print(json.dumps({
        "correct": ops.mismatches == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
