"""Measurement plumbing shared by the workloads: the Spark session
lifecycle, Spark job/stage/task counting by job-id range, resident
memory sampling from /proc, host context and the span tracer.

Nothing here imports the package under test, so a checkout without it
fails in ``run.py`` before any measurement starts.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import subprocess
import threading
import time
from contextlib import contextmanager


# --- Spark session ------------------------------------------------------------


class SparkHandle:
    """The benchmark's local[n] session and the JVM behind it.

    The console progress bar is off so standard output stays parseable;
    scratch files (shuffle, spill, JVM temp) stay under ``work_dir``.
    """

    def __init__(self, width: int, work_dir: str):
        self.width = width
        self.work_dir = work_dir
        self.spark = None
        self._gateway_proc = None

    def start(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work_dir, "tmp")
        local = os.path.join(self.work_dir, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{self.width}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(2 * self.width))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "1g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.work_dir, "warehouse"))
            # a fixed, pre-touched heap keeps the JVM's share of the
            # sampled memory constant: peak_rss_mb then moves with the
            # Python workers and the JVM's off-heap use
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
            )
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def shutdown(self):
        """Stop the session, then the JVM, then anything still running
        below this process; wait for each to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._gateway_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        reap_descendants()


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def descendants() -> list[int]:
    seen, stack = [], _children(os.getpid())
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def reap_descendants(timeout: float = 10.0) -> None:
    """Terminate and wait for every process started below this one."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done:
            return False
    except ChildProcessError:
        pass  # not our direct child: fall back to /proc
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


# --- Spark job counting -------------------------------------------------------


class JobCounter:
    """Jobs, stages and tasks of a call, taken from the job-id range
    the call spans. Job groups set by the program do not matter: every
    job id after the mark belongs to the call, because the benchmark is
    the only client of the session."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def _jobs(self):
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._sc.statusStore().jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def since(self, mark: int) -> dict:
        jobs = [j for j in self._jobs() if j.jobId() > mark]
        return {
            "jobs": len(jobs),
            "stages": sum(j.numCompletedStages() for j in jobs),
            "tasks": sum(j.numCompletedTasks() for j in jobs),
        }


# --- resident memory ----------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared
    between processes (forked Python workers share their daemon's)
    split between its sharers, so the sum over processes counts it
    once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of the driver JVM and every
    Python worker, that is every process below this one, sampled from
    /proc while active."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in descendants()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- host context -------------------------------------------------------------


def host_context(width: int, seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "width": width,
        "loadavg": os.getloadavg(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


# --- tracing ------------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into a layer's public
    functions. A span holds its name, layer, start, end, parent span
    and, when a job counter is attached, the Spark jobs, stages and
    tasks the call ran. Spans stay in memory until ``dump``. A disabled
    tracer records nothing and adds no job counting. ``overhead_s`` is
    the time the tracer itself has spent, job counting included."""

    def __init__(self, enabled: bool, counter: JobCounter | None = None):
        self.enabled = enabled
        self.counter = counter
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.counter.mark() if self.counter else None
        start = time.perf_counter()
        rec["start"] = start - self._t0
        self.overhead_s += start - t0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["end"] = end - self._t0
            self._stack.pop()
            if mark is not None:
                rec.update(self.counter.since(mark))
            self.overhead_s += time.perf_counter() - end

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
