"""Per-JOB profiler via the Spark event log (guide §1/§7).

Runs registry queries with ``spark.eventLog.enabled`` and parses the
resulting event log into one line per Spark job: submission time, wall
duration, task count, total task time, and the driver call site that
launched it. The gap between consecutive jobs is DRIVER time (metadata
I/O, py4j round trips, planning) — exactly the quantity the
scheduler-bound lifecycle queries are walled on.

Usage:
    python tools/job_profile.py <query> [<query> ...] [--sf <dir>]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_log(log_dir: str) -> list[dict]:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ]
    path = max(files, key=os.path.getmtime)
    if os.path.isdir(path):  # Spark 4 rolling event-log dir
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if "events" in f
        )
    else:
        parts = [path]
    jobs: dict[int, dict] = {}
    for part in parts:
        _parse_part(part, jobs)
    return [j for j in jobs.values() if "t1" in j]


def _parse_part(path: str, jobs: dict) -> None:
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "t0": ev["Submission Time"],
                    "site": props.get("callSite.short", "?"),
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": props.get("spark.job.description", ""),
                    "n_stages": len(ev.get("Stage Infos", [])),
                    "n_tasks": sum(
                        s.get("Number of Tasks", 0)
                        for s in ev.get("Stage Infos", [])
                    ),
                }
            elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i:i + 2]

    # a private event-log dir per run: concurrent runs must neither
    # delete nor parse each other's log
    log_dir = tempfile.mkdtemp(prefix="gedixr_eventlogs_")
    try:
        _profile(args, sf_dir, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def _profile(names: list[str], sf_dir: str, log_dir: str) -> None:
    import __spark_entry__ as entry
    from gedixr_spark.session import get_spark

    spark = get_spark(
        "job_profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    # warm like the bench does
    next(iter(qs.values()))(spark, sf_dir).count()

    marks: dict[str, tuple[float, float, float]] = {}
    for name in names:
        if name not in qs:
            print(f"unknown query {name!r}")
            continue
        t0 = time.time() * 1000
        w0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        df.count()
        marks[name] = (t0, time.time() * 1000, time.perf_counter() - w0)

    spark.stop()  # flush the event log
    jobs = sorted(parse_log(log_dir), key=lambda j: j["t0"])
    for name, (t0, t1, wall) in marks.items():
        sel = [j for j in jobs if t0 <= j["t0"] <= t1]
        in_jobs = sum(j["t1"] - j["t0"] for j in sel) / 1000.0
        print(
            f"\n=== {name}: wall {wall:.3f}s, {len(sel)} jobs, "
            f"{in_jobs:.3f}s inside jobs, "
            f"{wall - in_jobs:.3f}s driver/gaps ==="
        )
        print(f"{'dur_s':>7} {'gap_s':>7} {'tasks':>5}  site")
        prev_end = t0
        for j in sel:
            gap = (j["t0"] - prev_end) / 1000.0
            prev_end = max(prev_end, j["t1"])
            print(
                f"{(j['t1'] - j['t0']) / 1000.0:7.3f} {gap:7.3f} "
                f"{j['n_tasks']:5d}  {j['site']}"
            )


if __name__ == "__main__":
    main()
