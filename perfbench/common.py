"""Shared pieces of the benchmark: the run context, the Spark session
lifecycle, /proc peak memory, statistics and the traced-run probes.

Everything here measures from outside the program: it times and counts
around calls into the package's public functions and reads Spark's own
status tracker, event log and executed plans. Nothing in the package is
patched or wrapped.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import time
import uuid

PROCESS_START = time.monotonic()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- statistics ---------------------------------------------------------------

def median(values):
    return statistics.median(values)


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


# --- run context --------------------------------------------------------------

class Run:
    """One invocation: its scratch directory inside the checkout, its spans
    (traced runs only) and its counters."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = uuid.uuid4().hex[:12]
        self.base = os.path.join(ROOT, ".bench_run")
        self.dir = os.path.join(self.base, f"{workload}-{seed}-{self.run_id}")
        os.makedirs(self.dir)
        self.spans: list[dict] = []
        self.open_spans: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def span(self, name: str, **attrs):
        """A timed interval; in a traced run also a span whose parent is the
        innermost span still open."""
        return _Span(self, name, attrs)

    def add_span(self, name: str, start: float, end: float | None, **attrs) -> dict:
        """Append a span (monotonic start/end) under the innermost open span."""
        rec = {
            "run_id": self.run_id, "id": len(self.spans),
            "parent": self.open_spans[-1] if self.open_spans else None,
            "name": name, "start": start - PROCESS_START,
            "end": None if end is None else end - PROCESS_START, **attrs,
        }
        self.spans.append(rec)
        return rec

    def record(self, ok: bool, what: str) -> None:
        """Count one operation against the correctness verdict."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def write_spans(self) -> str:
        out = os.path.join(self.base, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-{self.seed}-{self.run_id}.json")
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
        return path

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


class _Span:
    """A timed interval; in a traced run it is kept as a span record."""

    def __init__(self, run: Run, name: str, attrs: dict):
        self.run, self.name, self.attrs = run, name, attrs

    def __enter__(self):
        self.start = time.monotonic()
        if self.run.trace:
            run = self.run
            self.record = run.add_span(self.name, self.start, None, **self.attrs)
            run.open_spans.append(self.record["id"])
        return self

    def __exit__(self, *exc):
        self.end = time.monotonic()
        self.seconds = self.end - self.start
        if self.run.trace:
            self.run.open_spans.pop()
            self.record["end"] = self.end - PROCESS_START
        return False


# --- Spark session lifecycle --------------------------------------------------

def session_conf(run: Run) -> dict[str, str]:
    """Confs the benchmark adds to the engine's defaults: scratch locations
    inside the checkout and, in a traced run, the uncompressed v2 event log.
    Nothing that changes how a query is planned or executed."""
    local = run.path("spark-local")
    os.makedirs(local)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        logs = run.path("eventlog")
        os.makedirs(logs)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        }
    return conf


def start_session(run: Run):
    """``session.get_spark`` on local[nproc], timed; returns (spark, seconds)."""
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    from ningaloo_turtle_etl_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(
        f"perfbench-{run.workload}",
        master=f"local[{os.cpu_count()}]",
        extra_conf=session_conf(run),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t0


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait until the
    JVM and every process under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in children
    ):
        time.sleep(0.05)


# --- /proc memory ---------------------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # comm may contain spaces; the ppid is the 2nd field after ')'.
        rest = data[data.rfind(")") + 2:].split()
        out[int(stat.split("/")[2])] = int(rest[1])
    return out


def descendants(pid: int) -> set[int]:
    parents = _ppid_map()
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - found
        found |= frontier
    return found


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """VmHWM (peak resident set) of this process and of the JVM and Python
    workers under it, in MB, by process kind. VmHWM is each process's own
    high-water mark, so one read before the session stops covers the run:
    the driver and the JVM live for the whole run and the Python workers
    are reused."""
    me = os.getpid()
    kb = {"driver": _vm_hwm_kb(me), "jvm": 0, "workers": 0}
    for pid in descendants(me):
        # Short-lived helpers the JVM spawns (file-permission shell-outs)
        # report the JVM's own pages while they run: count only the JVM
        # and Python processes.
        comm = _comm(pid)
        if comm == "java":
            kb["jvm"] += _vm_hwm_kb(pid)
        elif comm.startswith("python"):
            kb["workers"] += _vm_hwm_kb(pid)
    return {k: v / 1024.0 for k, v in kb.items()}


# --- traced-run probes ----------------------------------------------------------

class JobGroups:
    """Job group per operation, read back through the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.n = 0

    def begin(self, label: str) -> str:
        self.n += 1
        group = f"{label}#{self.n}"
        self.sc.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def python_exec_metrics(df) -> dict[str, float]:
    """Sum the ArrowEvalPython SQL metrics (boot and total time, seconds)
    over the AQE final plan of an executed DataFrame."""
    out = {"python_boot_s": 0.0, "python_total_s": 0.0}
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if "Python" not in node.nodeName():
            continue
        metrics = node.metrics()
        for key, name in (("pythonBootTime", "python_boot_s"),
                          ("pythonTotalTime", "python_total_s")):
            opt = metrics.get(key)
            if opt.isDefined():
                m = opt.get()
                scale = 1e-9 if m.metricType() == "nsTiming" else 1e-3
                out[name] += m.value() * scale
    return out


def _plan_nodes(node):
    stack = [node]
    while stack:
        n = stack.pop()
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(n.finalPhysicalPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(n.plan())
            continue
        yield n
        kids = n.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))


class EventLog:
    """Task, stage and SQL-execution facts from the uncompressed v2 rolling
    event log, read after the SparkContext has stopped."""

    def __init__(self, log_dir: str):
        self.job_group: dict[int, str | None] = {}
        self.job_time: dict[int, tuple[int, int]] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.write_execs: set[int] = set()
        for path in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            props = e.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id")
            sql = props.get("spark.sql.execution.id")
            self.job_exec[job] = int(sql) if sql is not None else None
            self.job_time[job] = (e["Submission Time"], e["Submission Time"])
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(s, job)
        elif kind == "SparkListenerJobEnd":
            job = e["Job ID"]
            self.job_time[job] = (self.job_time[job][0], e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "start": info.get("Submission Time"),
                "end": info.get("Completion Time"),
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "written": out.get("Bytes Written", 0),
                "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            # A file write is the plan root, or AQE's root wraps it.
            root = e["sparkPlanInfo"]
            names = [root["nodeName"], *(c["nodeName"] for c in root["children"])]
            if any("InsertIntoHadoopFsRelationCommand" in n for n in names):
                self.write_execs.add(e["executionId"])

    def jobs_where(self, pred) -> set[int]:
        """Jobs whose job group satisfies ``pred``."""
        return {j for j, g in self.job_group.items() if pred(g)}

    def totals(self, jobs: set[int]) -> dict[str, float]:
        """Stage, task and task-metric totals over ``jobs``."""
        stages = {s for s, j in self.stage_job.items() if j in jobs and s in self.stages}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "task_run_s": sum(t["run_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "bytes_written": sum(t["written"] for t in tasks),
        }

    def jobs_wall_s(self, jobs: set[int]) -> float:
        return sum((self.job_time[j][1] - self.job_time[j][0]) / 1e3 for j in jobs)

    def write_task_skew(self, jobs: set[int]) -> float:
        """Longest task over stage wall, summed across the stages of
        ``jobs`` that wrote output: 1.0 means one task was the whole stage."""
        longest, wall = 0.0, 0.0
        for s, j in self.stage_job.items():
            st = self.stages.get(s)
            tasks = [t for t in self.tasks if t["stage"] == s and t["written"]]
            if j not in jobs or st is None or not tasks or st["start"] is None:
                continue
            longest += max(t["wall_s"] for t in tasks)
            wall += (st["end"] - st["start"]) / 1e3
        return longest / wall if wall else 0.0
