"""Measurement helpers that sit outside the program under test.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory and
  writes them out once, with the run's layer counts, when the run ends.
- :func:`tree_cpu_s` reads the CPU time of the driver JVM and its Python
  workers from ``/proc``.
- :func:`job_group_profile` reads Spark's status store for one job group:
  jobs, stages, tasks, executor run time, shuffle bytes and the driver gap.
- :func:`stop_spark` stops the active session, the JVM and its workers, and
  waits.
"""

from __future__ import annotations

import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

_CLK_TCK = os.sysconf("SC_CLK_TCK")
# Idle pause after warm-up: the JVM's compiler threads finish the methods the
# warm-up made hot instead of competing with the first timed operations.
JIT_SETTLE_S = 2.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile, ``q`` in (0, 1).

    A weighted mean of every order statistic, with Beta(q(n+1), (1-q)(n+1))
    weights, instead of one or two of them. Where the samples of different
    queries leave a gap at the quantile, a single order statistic jumps
    across it from run to run, while this estimate moves smoothly."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum(pdf[1:] + pdf[:-1])))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus covered child time."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
        return out

    def write(self, path: str, counts: dict) -> None:
        """Write the spans, their self times and the layer counts."""
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_ms(), "counts": counts}, f)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def descendants(pid: int | None = None) -> list[int]:
    todo, out = [os.getpid() if pid is None else pid], []
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of every process below this one (JVM, Python workers),
    including children they have already reaped."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def _stage_attempts(spark, stage_id: int) -> list:
    """Every attempt of one stage, as the status store's ``StageData``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    try:
        seq = store.stageData(stage_id, False, None, False, no_quantiles)
    except Exception:  # noqa: BLE001 - the store already evicted the stage
        return []
    return [seq.apply(i) for i in range(seq.size())]


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def job_group_profile(spark, group: str, wall_ms: float) -> dict:
    """Jobs, stages and tasks one job group ran, from the status store."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids: set[int] = set()
    job_ids = tracker.getJobIdsForGroup(group)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = run_ms = shuffle = 0
    spans = []
    stages_run = 0
    for st in (a for sid in sorted(stage_ids) for a in _stage_attempts(spark, sid)):
        if str(st.status()) != "COMPLETE":
            continue
        stages_run += 1
        tasks += st.numCompleteTasks()
        run_ms += st.executorRunTime()
        shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
        lo, hi = _ms(st.submissionTime()), _ms(st.completionTime())
        if lo is not None and hi is not None:
            spans.append((lo, hi))
    covered, end = 0.0, float("-inf")
    for lo, hi in sorted(spans):
        if hi > end:
            covered += hi - max(lo, end)
            end = hi
    return {"jobs": len(job_ids), "stages": stages_run, "tasks": tasks,
            "executor_run_ms": run_ms, "shuffle_bytes": shuffle,
            "driver_gap_ms": max(wall_ms - covered, 0.0)}


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def loadavg() -> list[float]:
    return list(os.getloadavg())


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": f"{jvm.getProperty('java.vendor')} {jvm.getProperty('java.version')}",
        "python": platform.python_version(),
    }


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the active session and the JVM behind it, then wait for every
    process this run started (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    procs = descendants()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            jvm_proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)
    sys.stdout.flush()


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
