"""Shared pieces of the benchmark: the private run root, the session,
Spark job counters, the peak-memory sampler, in-memory spans and percentiles.

Everything here runs in the benchmark's own process and calls the engine
only through its public functions.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

REPO = os.getcwd()


class RunRoot:
    """A private directory per run for data, warehouse, checkpoints,
    materialized tables, Spark local dirs and temp files. It sits inside the
    checkout and is removed when the run ends."""

    def __init__(self, tag: str):
        base = os.path.join(REPO, ".perfbench_tmp")
        self.path = os.path.join(base, f"{tag}-{os.getpid()}-{time.time_ns()}")
        for sub in ("data", "local", "tmp", "mat"):
            os.makedirs(os.path.join(self.path, sub))
        tmp = self.sub("tmp")
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": self.sub("local"),
            "SPARK_GRAFT_MAT_DIR": self.sub("mat"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
            ),
        })
        import tempfile

        tempfile.tempdir = tmp

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.path))


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def host_record() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": cpus(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def engine_config(root: RunRoot, master: str, run_dir: str = "run"):
    """The engine's config with every path inside the run root; warehouse
    and checkpoints go under ``run_dir``. The heap is fixed at 2 GB, not
    the engine's 8 GB default (see NOTES.md)."""
    from go_nats_to_clickhouse_spark.config import EngineConfig

    local = root.sub("local")
    os.makedirs(root.sub(run_dir), exist_ok=True)
    return EngineConfig(
        master=master,
        shuffle_partitions=cpus(),
        warehouse_dir=root.sub(run_dir, "wh"),
        checkpoint_dir=root.sub(run_dir, "ckpt"),
        driver_memory="2g",
        extra_spark_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": root.sub("spark-warehouse"),
            # A fixed heap (initial = maximum) keeps the JVM's footprint from
            # depending on when the collector chose to grow the heap.
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={root.sub('tmp')}",
            # keep every job and stage for the counters (the UI stays off)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def start_session(cfg):
    """The engine's session factory, quiet; returns (spark, seconds)."""
    from go_nats_to_clickhouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cfg, app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _alive(pid: int) -> bool:
    """Running, as opposed to ended (gone, or a zombie awaiting its reaper)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _proc_table().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def shutdown_jvm() -> None:
    """Stop the py4j gateway, wait for the JVM to exit, then for every
    process it started (the Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    forked = _descendants(proc.pid) if proc is not None else []
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in forked:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)


def warm_python_workers(spark) -> None:
    """Fork the Arrow/pandas workers once, as a service does at start."""
    from pyspark.sql import functions as F

    n = cpus()
    spark.range(64).repartition(n).groupBy((F.col("id") % n).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], "id long"
    ).write.format("noop").mode("overwrite").save()


# -- Spark job counters ---------------------------------------------------


class JobCounter:
    """Jobs, stages, tasks and bytes of a job group, from the status tracker
    and the JVM status store. The UI stays disabled; both read the same
    listener-fed store."""

    KEYS = ("stages", "tasks", "input_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setJobGroup("", "")

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[int]:
        self.drain()
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids) -> dict[str, int]:
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(self.KEYS, 0)
        stages: set[int] = set()
        for jid in job_ids:
            info = self._sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: planned, never ran
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


# -- peak memory ---------------------------------------------------------------


def _proc_table() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field may contain spaces; fields resume after ')'
        parents[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return parents


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with a fork (a Python worker and
    its daemon, or a JVM child before exec) are split between the sharers
    instead of counted once per process, as resident-set size would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_loadgen(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"loadgen.py" in fh.read()
    except OSError:
        return False


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class MemSampler:
    """Peak memory (PSS) of this process tree (this Python process, the JVM and
    its Python workers), sampled from /proc every ``period`` seconds.
    The load generator's process is left out: it is not the system."""

    def __init__(self, period: float = 0.5):
        self.peak_kb = 0
        self.peak_by_kind: dict[str, int] = {}
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        parents = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, ppid in parents.items():
            children.setdefault(ppid, []).append(pid)
        total, todo, kinds = 0, [os.getpid()], {}
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            kind = _comm(pid)
            # Only the JVM and Python processes: a helper the JVM forks
            # (jspawnhelper, chmod) shares the JVM's memory until it execs,
            # and would count it twice.
            if not kind.startswith(("java", "python")) or _is_loadgen(pid):
                continue
            kb = _pss_kb(pid)
            total += kb
            kinds[kind] = kinds.get(kind, 0) + kb
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_kind = total, kinds

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- spans ------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out once
    at the end. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> None:
        """A span measured by someone else (e.g. a streaming progress)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": parent,
                               "name": name, "start": start, "end": end, **attrs})

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time spent collecting counters: the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# -- percentiles -------------------------------------------------------------

#: tail percentiles tried, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(sorted_vals, p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, -(-len(sorted_vals) * p // 100))
    return sorted_vals[int(k) - 1]


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n): the highest ladder percentile that leaves at
    least ten samples beyond it."""
    vals = sorted(values)
    n = len(vals)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return percentile(vals, p), p, n
    return vals[-1], 100.0, n


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
