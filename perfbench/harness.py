"""Shared machinery of the benchmark: checkout layout, Spark session,
host probe, job-group tracing through Spark's status store, and layer
spans recorded around calls into the engine.

Everything here runs from outside the engine: spans wrap public
functions and methods of `sosse_spark` from this file, and Spark's own
status store (which answers with the UI disabled) supplies job, stage
and task figures per job group.
"""

from __future__ import annotations

import functools
import math
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
# the engine files the benchmark drives; a checkout without them cannot run
REQUIRED = ("sosse_spark", "__spark_entry__.py", "bench.py")


def missing_program_files() -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]


def state_dir() -> str:
    """Cross-run state inside the checkout (per-seed crawl digests)."""
    d = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(d, exist_ok=True)
    return d


def work_dir() -> str:
    """Per-run scratch inside the checkout (tables, Spark local dirs, JVM
    temp files).  Removed when the run ends."""
    d = os.path.join(state_dir(), f"run-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return d


def prepare_environment(work: str) -> None:
    """Make the engine importable by this process and by Spark's Python
    workers wherever the benchmark is started from, and keep every
    temporary file of the run inside `work`."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    # no /tmp/hsperfdata_<user> file from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


class Session:
    """A local[4] Spark session whose JVM is stopped and waited for on
    close, so a run leaves no process behind."""

    def __init__(self, work: str, app: str):
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        tmp = os.path.join(work, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName(app)
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            # the whole heap up front: peak RSS no longer depends on when
            # G1 decides to grow the heap (measured spread 0.19 -> 0.05)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g")
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            .config("spark.sql.maxPlanStringLength", "4096")
            # runs last about a minute: no periodic System.gc() inside one
            .config("spark.cleaner.periodicGC.interval", "30min")
            .config("spark.sql.adaptive.enabled", "true")
            # the status store keeps every job of the run, so per-group
            # figures are complete even for crawl rounds of ~100 jobs
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .getOrCreate()
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the driver JVM so far."""
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        workers = _descendants(self.jvm_pid)  # Spark's Python worker processes
        self.spark.stop()
        proc = getattr(self._gateway, "proc", None)
        self._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _wait_gone(workers | _descendants(self.jvm_pid))


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: [0] state,
    [1] parent pid, [11:15] CPU ticks, [19] start time."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live descendant of pid."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                f = _stat(entry)
                procs[int(entry)] = (int(f[1]), f[19])
            except (OSError, IndexError, ValueError):
                pass
    out, level = set(), {pid}
    while level:
        level = {p for p, (pp, _) in procs.items() if pp in level} - {p for p, _ in out}
        out |= {(p, procs[p][1]) for p in level}
    return out


def _alive(pid: int, start: str) -> bool:
    try:
        f = _stat(pid)
    except OSError:
        return False
    return f[19] == start and f[0] != "Z"  # same process, not yet exited


def _wait_gone(procs: set[tuple[int, str]], timeout: float = 30.0) -> None:
    """Wait for processes to exit; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    for pid, start in sorted(procs):
        while _alive(pid, start):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def host_membw(seconds: float = 0.5) -> float:
    """The frozen headline benchmark's memory-bandwidth probe
    (bench.host_control), so a throttled host can be told apart from a
    slow change."""
    from bench import host_control

    return host_control(seconds)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, children they already reaped included: the Python
    driver, the Spark JVM and Spark's Python workers.  Time the host
    takes the cores away for is not counted."""
    pid = os.getpid()
    ticks = 0
    for p in {pid} | {d for d, _ in _descendants(pid)}:
        try:
            f = _stat(p)
        except OSError:  # exited since the scan
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def timed(fn, *args, **kwargs):
    """fn's result, its wall seconds and the CPU seconds the process
    tree spent meanwhile."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn(*args, **kwargs)
    wall = time.perf_counter() - t0
    return out, wall, tree_cpu_s() - c0


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values) -> float:
    return statistics.median(values)


def mean(values) -> float:
    return statistics.fmean(values)


# ---------------------------------------------------------------------------
# job-group tracing through the status store
# ---------------------------------------------------------------------------

class GroupStats:
    """Spark figures of one job group, read from the status store."""

    def __init__(self, jobs, stages, cover_s, task_s, shuffle_write_b, spill_b, skew):
        self.jobs = jobs
        self.stages = stages
        self.cover_s = cover_s
        self.task_s = task_s
        self.shuffle_write_mb = shuffle_write_b / 2**20
        self.spill_mb = spill_b / 2**20
        self.task_skew = skew


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job started inside the block with `group`.  Set in
    traced and untraced runs alike, so both run the same code."""
    sc.setJobGroup(group, group, False)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _ms(opt_date):
    return opt_date.get().getTime() if opt_date.isDefined() else None


def group_stats(sc, group: str) -> GroupStats:
    """Jobs, executed stages, job cover (union of job intervals), task
    time, shuffle write, disk spill and the task skew (max ÷ median task
    run time) of the widest executed stage."""
    store = sc._jsc.sc().statusStore()
    intervals, stage_ids = [], set()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    for j in job_ids:
        jd = store.job(j)
        start, end = _ms(jd.submissionTime()), _ms(jd.completionTime())
        if start is not None and end is not None:
            intervals.append((start, end))
        it = jd.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
    cover_ms, cur = 0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                cover_ms += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        cover_ms += cur[1] - cur[0]

    n_stages, task_ms, shuffle_b, spill_b = 0, 0, 0, 0
    widest = None
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage evicted or never attempted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        n_stages += 1
        task_ms += st.executorRunTime()
        shuffle_b += st.shuffleWriteBytes()
        spill_b += st.diskBytesSpilled()
        key = (st.numTasks(), st.executorRunTime())
        if widest is None or key > widest[0]:
            widest = (key, sid, st.attemptId())
    skew = 1.0
    if widest is not None:
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(widest[1], widest[2], q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            skew = rt.apply(1) / max(rt.apply(0), 1.0)
    return GroupStats(len(job_ids), n_stages, cover_ms / 1000.0, task_ms / 1000.0,
                      shuffle_b, spill_b, skew)


# ---------------------------------------------------------------------------
# layer spans recorded around calls into the engine
# ---------------------------------------------------------------------------

class Spans:
    """Wall time per layer name, accumulated by wrappers this benchmark
    installs around engine functions for a traced run."""

    def __init__(self):
        self.seconds: dict[str, float] = {}
        self._undo = []

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        spans = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                spans.seconds[name] = spans.seconds.get(name, 0.0) + time.perf_counter() - t0

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def take(self) -> dict[str, float]:
        out = dict(self.seconds)
        self.seconds.clear()
        return out

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(base, f))
                n_files += 1
            except FileNotFoundError:
                pass
    return n_bytes, n_files
