"""Run plumbing shared by the workloads: the scratch area inside the
checkout, the Spark session, the peak-RSS sampler, the noise audit, the
span tracer and the status-store counters.

Nothing here is timed work of the program: these are the benchmark's own
instruments.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager

# Driver JVM heap, allocated and touched at launch (-Xms + AlwaysPreTouch,
# as plans/bench_pipeline.py does for the scaling legs): heap growth during
# a measured pass would otherwise add page-fault stalls whose timing varies
# run to run, and the JVM's resident set would follow GC timing. get_spark()
# falls back to SPARK_DRIVER_MEM=48g, more than a 15 GB host has; the
# workloads need well under 2 GB.
DRIVER_MEM_GB = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Work:
    """Per-run scratch directory inside the checkout. Every file the run
    writes (inputs, pipeline checkpoints, Spark local dirs, temp files)
    lives under it, and it is removed when the run ends."""

    def __init__(self, root: str, workload: str):
        self.root = root
        self.dir = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(work: Work, app: str, extra_env: dict | None = None):
    """The program's own session factory, at local[cores], with the
    benchmark's bookkeeping settings: temp and shuffle files inside the
    scratch directory, no console progress bars, status-store retention
    large enough to hold every stage of a run. Returns (spark, settings)."""
    env = {
        "SPARK_DRIVER_MEM": f"{DRIVER_MEM_GB}g",
        "SPARK_LOCAL_DIRS": work.path("spark-local"),
        "TMPDIR": work.tmp,
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (work.root, os.environ.get("PYTHONPATH")) if p),
        **(extra_env or {}),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = work.tmp
    from quarrycore_spark.session import get_spark

    n = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "20000",
        "spark.sql.warehouse.dir": work.path("warehouse"),
        # temp files inside the checkout; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM_GB}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work.tmp} -XX:-UsePerfData",
    }
    spark = get_spark(app, cores=n, extra_conf=conf)
    used = spark.sparkContext.getConf()
    settings = {
        "master": used.get("spark.master"),
        "driver_memory": used.get("spark.driver.memory"),
        "shuffle_partitions": used.get("spark.sql.shuffle.partitions"),
        "arrow_batch": used.get("spark.sql.execution.arrow.maxRecordsPerBatch", "default"),
        "aqe": used.get("spark.sql.adaptive.enabled"),
        "jvm_options": used.get("spark.driver.extraJavaOptions"),
        "spark_version": spark.version,
        "env": {k: v for k, v in env.items() if k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_KERNEL_LOG")},
    }
    return spark, settings


# ---------------------------------------------------------------------------
# host noise audit
# ---------------------------------------------------------------------------


def cpu_steal_s() -> float:
    """Cumulative steal time from /proc/stat (the hypervisor ran another
    guest while this one's vCPUs were runnable)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return -1


# ---------------------------------------------------------------------------
# peak RSS of the process tree (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------


def _tree(root_pid: int) -> dict[int, int]:
    """{pid: parent pid} of root_pid and all its descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while scanning
    out = {}
    for pid in parent:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            out[pid] = parent[pid]
    return out


def _descendants(root_pid: int) -> list[int]:
    return [p for p in _tree(root_pid) if p != root_pid]


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak RSS of this process and all its descendants (JVM, Python
    daemon, Python workers): a daemon thread sums their resident set
    every `interval` seconds and keeps the largest sum."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, int] = {}  # pid -> MB in the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        tree = _tree(os.getpid())
        rss = {}
        for pid in tree:
            try:
                rss[pid] = _rss_bytes(pid)
            except OSError:
                continue  # exited between listing and reading
        # A child caught between vfork and exec (the JVM launching a
        # helper process) shares its parent's address space and reports
        # the parent's exact resident size: count that memory once.
        rss = {pid: b for pid, b in rss.items() if rss.get(tree[pid]) != b}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = {pid: round(b / (1 << 20)) for pid, b in rss.items()}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down, and wait until it and every
    process it started (Python daemon and workers) have exited. The list
    is taken first: once the JVM exits its children are re-parented."""
    import signal

    from pyspark import SparkContext

    started = _descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. Below 21 samples that percentile would not reach
    the median, so the maximum is reported as the 100th percentile."""
    s = sorted(samples)
    n = len(s)
    if n < 21:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n



# ---------------------------------------------------------------------------
# spans and Spark status-store counters
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span and attributes.
    Written out once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict | None = None) -> None:
        """Record a span timed elsewhere (e.g. inside a callback)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None, "start": start, "end": end, "attrs": {}})

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


class StatusStore:
    """Job and stage counters from Spark's application status store (kept
    with spark.ui.enabled=false). Jobs are attributed to a time window by
    submission time: the benchmark drives one closed loop from one
    thread, so a span's window holds exactly the jobs it caused."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._stage_cache: dict[int, dict] = {}

    def jobs(self) -> list[dict]:
        out = []
        for j in self.conv.asJava(self.store.jobsList(None)):
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            out.append({"id": j.jobId(), "submitted": sub.get().getTime() / 1000.0, "stages": list(self.conv.asJava(j.stageIds()))})
        return out

    def _stage(self, sid: int) -> dict:
        if sid not in self._stage_cache:
            s = self.store.lastStageAttempt(sid)
            rec = {
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "gc_ms": s.jvmGcTime(),
                "skew": None,
            }
            if rec["status"] == "COMPLETE" and rec["tasks"] >= 2:
                q = self.spark.sparkContext._gateway.new_array(self.spark._jvm.double, 2)
                q[0], q[1] = 0.5, 1.0
                summ = self.store.taskSummary(sid, s.attemptId(), q)
                if summ.isDefined():
                    med, mx = list(self.conv.asJava(summ.get().executorRunTime()))
                    rec["skew"] = mx / med if med > 0 else None
            self._stage_cache[sid] = rec
        return self._stage_cache[sid]

    def window(self, jobs: list[dict], t0: float, t1: float, n_cores: int) -> dict:
        """Counters of the jobs submitted in [t0, t1)."""
        mine = [j for j in jobs if t0 <= j["submitted"] < t1]
        stages = [self._stage(s) for s in sorted({s for j in mine for s in j["stages"]})]
        ran = [s for s in stages if s["status"] == "COMPLETE"]
        skews = [s["skew"] for s in ran if s["skew"] is not None]
        run_s = sum(s["run_ms"] for s in ran) / 1000.0
        return {
            "jobs": len(mine),
            "stages": len(ran),
            "shuffle_mb": sum(s["shuffle_write"] for s in ran) / (1 << 20),
            "spill_mb": sum(s["spill"] for s in ran) / (1 << 20),
            "gc_s": sum(s["gc_ms"] for s in ran) / 1000.0,
            "task_run_s": run_s,
            "core_busy_share": run_s / (n_cores * (t1 - t0)) if t1 > t0 else 0.0,
            "task_skew_max": max(skews) if skews else 1.0,
        }


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total / (1 << 20)


def kernel_log_totals(prefix: str, tag: str) -> tuple[int, float]:
    """(docs, seconds) summed over the per-worker kernel logs the program
    writes when SPARK_GRAFT_KERNEL_LOG is set (one "rows seconds ..." line
    per Arrow batch). The files are consumed."""
    d, base = os.path.split(prefix)
    rows, secs = 0, 0.0
    for name in os.listdir(d):
        if name.startswith(f"{base}.{tag}."):
            p = os.path.join(d, name)
            with open(p) as f:
                for line in f:
                    parts = line.split()
                    rows += int(parts[0])
                    secs += float(parts[1])
            os.remove(p)
    return rows, secs
