"""Run environment, Spark session lifecycle, statistics and tracing shared
by the workloads.

Tracing is done from the benchmark's side only: every public call of the
package is wrapped in a span that owns its own Spark job group, the job
ids come from the status tracker, and the per-task metrics come from the
Spark event log the traced session writes. Timed runs never trace.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

# well below host RAM: the session default (16g) exceeds some hosts, and
# heap sizing showed up as session-start variance
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
# A fixed heap and young generation keep GC sizing out of peak RSS. The
# JIT stops at C1: with C2 a pass kept getting faster for five passes or
# more (10.3 s to 9.0 s on gedi_reference, 9.9 s to 7.4 s on
# table_lifecycle, 4-core host), so each timed run sat at another point of
# the warm-up curve; with C1 the pass after the warm-up is already steady.
# C1 alone shrinks the code cache to 32 MB, which the Spark-generated
# classes of a few passes fill; its flush and recompile then made the
# fourth table_lifecycle pass of a run 20 % slower, so the cache keeps the
# C2 size.
JVM_OPTIONS = (
    f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:TieredStopAtLevel=1 "
    "-XX:ReservedCodeCacheSize=240m -XX:-UsePerfData"
)


def pin_env(work: Path) -> dict:
    """Pin everything that changes run-to-run speed and return it for
    printing: ``local[N]`` with N = usable CPUs, driver heap and JVM
    options, Spark scratch dirs inside the run's work dir, this
    interpreter for the Python workers."""
    cpus = len(os.sched_getaffinity(0))
    local_dirs = work / "spark-local"
    local_dirs.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_MASTER": f"local[{cpus}]",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(local_dirs),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(work / "tmp"),
        "PYTHONHASHSEED": "0",
        "OMP_NUM_THREADS": "1",
    }
    os.environ.update(env)
    env["spark.driver.extraJavaOptions"] = JVM_OPTIONS
    # session.get_spark puts the checkout root on the workers' path, so
    # ``perfbench.*`` functions captured in closures import on workers
    return env


def start_session(event_log_dir: Path | None = None):
    """Start (or restart) the engine's session with ERROR log level;
    with ``event_log_dir`` the session writes a Spark event log there.
    Returns ``(spark, seconds)``."""
    from gedixr_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files stay inside the run's work dir
        "spark.driver.extraJavaOptions": (
            f"{JVM_OPTIONS} -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it,
    so a run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        with contextlib.suppress(OSError):
            out += [int(c) for c in (task / "children").read_text().split()]
    return out


def _hwm_kb(pid: int) -> int:
    with contextlib.suppress(OSError):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (MB) of this driver Python process and of the driver JVM
    it launched (the java child of this process)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    for c in _children(os.getpid()):
        with contextlib.suppress(OSError):
            if "java" in Path(f"/proc/{c}/comm").read_text():
                jvm_kb = max(jvm_kb, _hwm_kb(c))
    return py_kb / 1024.0, jvm_kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def rm(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: Path, suffix: str = "") -> int:
    return sum(
        f.stat().st_size for f in Path(path).rglob(f"*{suffix}") if f.is_file()
    )


class Ops:
    """Operation ledger: every public call the workload checks counts as
    one attempted operation; a raise or a wrong output counts as failed.
    ``mismatches`` counts only wrong outputs (not raises)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.errors: dict[str, int] = {}

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches += 1
            self.errors[name] = self.errors.get(name, 0) + 1

    def error(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        key = f"{name}: {type(exc).__name__}"
        self.errors[key] = self.errors.get(key, 0) + 1


# --------------------------------------------------------------- tracing

EVENT_METRICS = (
    "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_bytes",
    "fetch_wait_s", "spill_bytes", "python_worker_s",
)


class Tracer:
    """Spans around public calls. Each span gets its own job group, so
    the status tracker and the event log attribute Spark jobs to it;
    wall times are kept in memory and joined with the event log after
    the session stops. With ``enabled=False`` a span only times."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.passes: list[dict] = []

    @contextlib.contextmanager
    def pass_timer(self):
        """Times one whole pass; kept for the workload's driver gap."""
        rec = {"t0_ms": time.time() * 1000.0}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["t1_ms"] = time.time() * 1000.0
            self.passes.append(rec)

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        rec = {"layer": layer, "name": name or layer, "group": None}
        if self.enabled:
            rec["group"] = f"pb-{len(self.spans)}-{rec['name']}"
            self.sc.setJobGroup(rec["group"], rec["name"], False)
        rec["t0_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["t1_ms"] = time.time() * 1000.0
            if self.enabled:
                tracker = self.sc.statusTracker()
                rec["tracker_jobs"] = len(tracker.getJobIdsForGroup(rec["group"]))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _overlap_ms(intervals, lo: float, hi: float) -> float:
    return _union_ms([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi])


def read_event_log(event_dir: Path) -> dict:
    """Parse the (uncompressed) event log of the only application under
    ``event_dir``: per-job group and interval, per-task metrics keyed by
    the job group of the stage that ran it, and the SQL plan nodes with
    their metric accumulator ids (``nodes``) so span-level SQL metrics
    can be summed per operator."""
    # each session start writes its own application log; take the last
    app = max(event_dir.iterdir(), key=lambda p: p.stat().st_mtime)
    files = [app] if app.is_file() else [
        f for f in app.rglob("*") if f.is_file() and not f.name.startswith(".")
    ]
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    nodes: list[dict] = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"group": group, "t0": ev["Submission Time"]}
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "acc": {
                            a["ID"]: float(a["Update"])
                            for a in info.get("Accumulables", [])
                            if _number(a.get("Update"))
                        },
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev["sparkPlanInfo"], nodes)
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    log = {"jobs": jobs, "tasks": tasks, "nodes": nodes}
    py_ids = metric_ids(log, "time to run Python workers")
    for t in tasks:
        t["python_worker_s"] = sum(v for k, v in t["acc"].items() if k in py_ids) / 1e3
    return log


def _number(v) -> bool:
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return True


def _walk_plan(info: dict, nodes: list[dict]) -> dict:
    node = {
        "name": info.get("nodeName", ""),
        "desc": info.get("simpleString", ""),
        "metrics": {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
    }
    node["children"] = [_walk_plan(c, nodes) for c in info.get("children", [])]
    nodes.append(node)
    return node


def metric_ids(log: dict, name: str) -> set:
    """Accumulator ids of the SQL metric ``name`` on every plan node."""
    return {n["metrics"][name] for n in log["nodes"] if name in n["metrics"]}


def sql_metric(log: dict, groups: set, acc_ids) -> float:
    """Sum of the task updates of accumulators ``acc_ids`` over the tasks
    of job groups ``groups``."""
    ids = set(acc_ids)
    return sum(
        v for t in log["tasks"] if t["group"] in groups
        for k, v in t["acc"].items() if k in ids
    )


def layer_metrics(spans: list[dict], log: dict, layers) -> dict:
    """Per layer: the span-summed event-log metrics of EVENT_METRICS plus
    the workload's driver gap (traced wall outside every job interval)."""
    by_group = {s["group"]: s["layer"] for s in spans}
    out = {f"{layer}.{m}": 0.0 for layer in layers for m in EVENT_METRICS}
    for j in log["jobs"].values():
        layer = by_group.get(j["group"])
        if layer in layers:
            out[f"{layer}.jobs"] += 1
    for t in log["tasks"]:
        layer = by_group.get(t["group"])
        if layer not in layers:
            continue
        out[f"{layer}.tasks"] += 1
        for m in EVENT_METRICS[2:]:
            out[f"{layer}.{m}"] += t[m]
    return out


def driver_gap_s(spans: list[dict], log: dict) -> float:
    """Wall time of ``spans`` outside every Spark job interval."""
    intervals = [(j["t0"], j["t1"]) for j in log["jobs"].values() if "t1" in j]
    gap = 0.0
    for s in spans:
        gap += (s["t1_ms"] - s["t0_ms"]) - _overlap_ms(intervals, s["t0_ms"], s["t1_ms"])
    return gap / 1e3
