"""Shared machinery of the KG benchmark: work directory, Spark session
lifecycle, timing, memory sampling, event-log roll-up and run context.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(Spark local dirs, warehouse, JVM temp files, event logs, generated
inputs, stores); the directory is removed when the run ends.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(values: list[float]) -> tuple[int, float]:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, as (percentile, value); (0, 0.0) when fewer than 20 samples."""
    n = len(values)
    best = (0, 0.0)
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
            best = (p, q)
    return best


def noop(df) -> None:
    """Materialize every row and column of a lazy result without
    storing it (``.count()`` would let Catalyst prune columns)."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# process tree + memory
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of a process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])  # fields 14-17


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM, the Python workers it
    started and the calling thread (the Python side of the driver:
    SPARQL parsing and plan building, py4j calls). Time the host takes
    the virtual CPUs away (steal) is not in it."""
    ticks = sum(_cpu_ticks(p) for p in [jvm_pid] + descendants(jvm_pid))
    return ticks / _CLK_TCK + time.thread_time()


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    sampled from /proc every ``interval`` seconds while running, one peak
    per op (``next_op`` closes the current op's)."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.op_peaks_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = [self.jvm_pid] + descendants(self.jvm_pid)
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def next_op(self) -> None:
        self.op_peaks_kb.append(self.peak_kb)
        self.peak_kb = 0

    @property
    def median_op_peak_mb(self) -> float:
        """Median over the ops of each op's peak: one op that happens to
        catch an extra worker or a late heap growth does not set it."""
        return median(self.op_peaks_kb) / 1024.0


# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------

class Bench:
    """One benchmark run: owns the work directory and the Spark session."""

    def __init__(self, root: str, seed: int):
        self.seed = seed
        self.work = os.path.join(root, ".perfbench_work", str(os.getpid()))
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, sub))
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            {
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
                "SPARK_WAREHOUSE_DIR": os.path.join(self.work, "warehouse"),
                "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
                "PYSPARK_PYTHON": sys.executable,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (root, os.environ.get("PYTHONPATH")) if p
                ),
                # no hsperfdata under /tmp, JVM temp files inside the work
                # dir; the C1 JIT only: the C2 JIT does not settle within a
                # run, and its compile work would drift through the window
                "JAVA_TOOL_OPTIONS": (
                    f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
                ),
            }
        )
        import tempfile

        tempfile.tempdir = tmp
        self.spark = None
        self.jvm_pid: int | None = None
        self._n = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, name: str) -> str:
        """A new, unused path under the work directory."""
        self._n += 1
        return self.path(f"{name}_{self._n}")

    def start_session(self, event_log: bool = False):
        """Start (or restart, in the same JVM) the Spark session; returns
        the seconds it took."""
        from recon_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {"spark.local.dir": self.path("local")}
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return elapsed

    def describe(self, label: str | None) -> None:
        """Tag the following Spark jobs with a layer label (event-log
        attribution)."""
        self.spark.sparkContext.setJobDescription(label)

    def event_log_path(self) -> str | None:
        """Event log of the current session (complete after stop)."""
        app = self.spark.sparkContext.applicationId
        for name in os.listdir(self.path("events")):
            if name.startswith(app):
                return self.path("events", name)
        return None

    def close(self) -> None:
        """Stop Spark, end the JVM and every worker it started, wait for
        all of them, and remove the work directory."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            pids = descendants(proc.pid)
            gw.shutdown()
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: force the kill
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.time() + 20
            while any(_alive(p) for p in pids) and time.time() < deadline:
                time.sleep(0.1)
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


# --------------------------------------------------------------------------
# event log roll-up
# --------------------------------------------------------------------------

SPARK_METRICS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "jobs", "stages", "tasks",
    "task_skew", "py_bytes_in", "py_bytes_out",
)


def rollup_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job-description totals from a Spark event log: task metrics,
    job/stage/task counts, worst-stage task skew (max ÷ median task run
    time) and the Python-worker data volumes of the mapInArrow nodes."""
    job_desc: dict[int, str] = {}
    stage_desc: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    completed: set[int] = set()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                d = (e.get("Properties") or {}).get("spark.job.description") or ""
                job_desc[e["Job ID"]] = d
                for s in e["Stage IDs"]:
                    stage_desc.setdefault(s, d)
            elif ev == "SparkListenerTaskEnd":
                tasks.setdefault(e["Stage ID"], []).append(e)
            elif ev == "SparkListenerStageCompleted":
                completed.add(e["Stage Info"]["Stage ID"])
    out: dict[str, dict[str, float]] = {}

    def acc(d: str) -> dict[str, float]:
        return out.setdefault(d, {k: 0.0 for k in SPARK_METRICS})

    for d in job_desc.values():
        acc(d)["jobs"] += 1
    for sid, d in stage_desc.items():
        if sid in completed:
            acc(d)["stages"] += 1
    for sid, evs in tasks.items():
        a = acc(stage_desc.get(sid, ""))
        runs = []
        for e in evs:
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["tasks"] += 1
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            runs.append(m.get("Executor Run Time", 0))
            for u in (e.get("Task Info") or {}).get("Accumulables", []):
                name = u.get("Name")
                if name == "data sent to Python workers":
                    a["py_bytes_in"] += float(u.get("Update") or 0)
                elif name == "data returned from Python workers":
                    a["py_bytes_out"] += float(u.get("Update") or 0)
        if len(runs) >= 2 and statistics.median(runs) > 0:
            a["task_skew"] = max(a["task_skew"], max(runs) / statistics.median(runs))
    return out


def merge_rollups(roll: dict[str, dict[str, float]], labels) -> dict[str, float]:
    """Sum the roll-ups of several descriptions (skew: worst)."""
    tot = {k: 0.0 for k in SPARK_METRICS}
    for d in labels:
        r = roll.get(d)
        if r is None:
            continue
        for k in SPARK_METRICS:
            tot[k] = max(tot[k], r[k]) if k == "task_skew" else tot[k] + r[k]
    return tot


# --------------------------------------------------------------------------
# run context
# --------------------------------------------------------------------------

def _git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def run_context(root: str, workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load,
        "master": MASTER,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(root),
    }
