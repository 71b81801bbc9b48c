"""Measurement plumbing shared by the perfbench workloads.

- ``ProcTree``: CPU seconds and resident memory of this process and its
  descendants (the Spark driver JVM and its Python workers), read from
  ``/proc`` because psutil is not installed.
- ``Tracer``: in-memory spans (name, start, end, parent, run id) recorded
  around calls into the engine's layers; written out once, when the run
  ends.
- ``start_session`` / ``stop_jvm``: a Spark session sized to this machine
  (``local[nproc]``, heap through ``RCSPARK_DRIVER_MEM``) and a shutdown
  that waits until the JVM and every Python worker have exited;
  ``force`` materializes a frame inside a span, ``jobs_submitted`` counts
  Spark jobs.
- ``cpu_supply``: a short matmul probe stamped beside each result as
  context for reading wall-clock numbers; it is not a metric.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KIB = os.sysconf("SC_PAGE_SIZE") // 1024
RSS_PERIOD_S = 0.2      # peak-RSS sampling period
STOP_TIMEOUT_S = 30.0   # wait for the JVM and its workers to exit
PROBE_S = 0.25          # length of each CPU-supply probe
# RSS counts only processes at least this old: the JVM starts commands (the
# Python worker daemon, chmod) through short-lived helper processes that
# report the JVM's own resident pages, which would count them twice.
MIN_RSS_AGE_S = 1.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """Driver heap for ``local[nproc]``: 40 % of RAM, at most 2 GiB.

    ``session.get_spark`` defaults to 48g, more than a small machine has;
    in local mode the driver heap is also the executor heap. The inputs are
    small; with a 4 GiB heap the JVM grew to a different size on every run,
    which made peak RSS spread by a sixth, while a 2 GiB heap holds steady."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{max(1, min(2, int(total_kib * 0.4) >> 20))}g"


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count (quartiles need two samples)."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


# ---------------------------------------------------------------------------
# process tree accounting
# ---------------------------------------------------------------------------


def _stat(pid: int, uptime_ticks: float) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one process;
    rss reads 0 for a process younger than ``MIN_RSS_AGE_S``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17,
    # starttime (ticks after boot)=22, rss=24
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    young = uptime_ticks - int(fields[19]) < MIN_RSS_AGE_S * CLK_TCK
    return ppid, ticks, 0 if young else int(fields[21])


class ProcTree:
    """CPU and RSS of ``root`` and its descendants.

    CPU is utime+stime+cutime+cstime summed over the live tree, so a worker
    that exits and is reaped by a tree member stays counted through its
    parent's cutime. Peak RSS is the largest tree-wide sum seen by a
    sampling thread."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_rss_kib = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> list[tuple[int, int, int]]:
        """(pid, cpu ticks, rss pages) of the root and its live descendants."""
        with open("/proc/uptime") as f:
            uptime_ticks = float(f.read().split()[0]) * CLK_TCK
        procs: dict[int, tuple[int, int, int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (st := _stat(int(name), uptime_ticks)) is not None:
                procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid not in procs:
                continue
            out.append((pid, procs[pid][1], procs[pid][2]))
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(t for _, t, _ in self.members()) / CLK_TCK

    def rss_kib(self) -> int:
        return sum(r for _, _, r in self.members()) * PAGE_KIB

    def _sample(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.peak_rss_kib = max(self.peak_rss_kib, self.rss_kib())

    def start_sampling(self) -> None:
        self.peak_rss_kib = self.rss_kib()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> float:
        """Stop the sampler; peak tree RSS in MiB over the sampled span."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_rss_kib = max(self.peak_rss_kib, self.rss_kib())
        return self.peak_rss_kib / 1024


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory; ``dump`` writes them as JSON lines.

    The parent of a span is the innermost open span of the same thread;
    spans opened in a thread with none open (the engine's concurrent table
    writes run in a thread pool) take ``fallback_parent``."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.fallback_parent: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.fallback_parent
        rec = {"run": self.run_id, "name": name, "parent": parent, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def durations(self, name: str, parent: int) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["parent"] == parent
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def configure_spark_env(work: str) -> None:
    """Keep Spark's scratch files inside ``work``; call before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("RCSPARK_DRIVER_MEM", driver_heap())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData' pyspark-shell"
    )
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def start_session():
    from rcspark.session import get_spark

    spark = get_spark("perfbench", cores=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df):
    """Persist ``df`` and compute it (a ``noop`` write); returns it."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


def jobs_submitted(spark) -> int:
    """Spark jobs submitted so far: the DAG scheduler's next job id. It
    counts the jobs of every job group; the status tracker's
    ``getJobIdsForGroup(None)`` sees only jobs without a group."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def stop_jvm(spark) -> None:
    """Stop Spark (``spark`` may be None if start-up failed), close the
    gateway JVM, and wait until it and every process it started (the Python
    worker daemons) have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = [pid for pid, _, _ in ProcTree(proc.pid).members()]
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while time.monotonic() < deadline:
        alive = [pid for pid in pids if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# CPU supply probe
# ---------------------------------------------------------------------------


_BURN = """
import time
import numpy as np
a = np.random.default_rng(0).random((256, 256))
n, t0 = 0, time.perf_counter()
while time.perf_counter() - t0 < {seconds}:
    a @ a
    n += 1
print(n / {seconds})
"""


def _burn(procs: int) -> float:
    code = _BURN.format(seconds=PROBE_S)
    ps = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    return sum(float(p.communicate()[0]) for p in ps)


def cpu_supply() -> dict[str, float]:
    """256² matmuls/s on one process and summed over ``nproc`` processes.

    Taken before the JVM starts so Spark does not compete with it."""
    n = nproc()
    return {
        "cpu_matmuls_per_s_1p": round(_burn(1), 1),
        f"cpu_matmuls_per_s_{n}p": round(_burn(n), 1),
    }
