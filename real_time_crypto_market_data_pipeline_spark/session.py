"""SparkSession factory tuned for the local[32] test rig.

The production target is a multi-executor cluster over ~100 TB; every knob
here has a scale rationale:

- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  partition counts when data volume varies by 1000x between runs.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the static number a ceiling, not a constant.
- UTC session timezone: the engine's clock-domain contract (reference
  ``time_helpers.py:12-23``) keeps epoch-ms integers unambiguous; all
  timestamp rendering is pinned to UTC so results are
  cluster-placement-independent.
- Arrow enabled: every Pandas-UDF path (multimodal decode, stateful lag) rides
  vectorized Arrow batches instead of per-row pickling.
- ``pin`` + ``query_scope`` own every intra-query persist, checkpoint and
  broadcast: a scope releases what was pinned inside it when it closes.
"""

from __future__ import annotations

import os
import threading
import warnings
from contextlib import contextmanager
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(app_name: str = "real_time_crypto_market_data_pipeline_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no console progress bars: they interleave with captured stdout
        # (BENCH_r05 lost its headline JSON parse to exactly this)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_local = threading.local()  # one scope stack per thread


def _stack() -> list[list]:
    return _local.__dict__.setdefault("stack", [])


@contextmanager
def query_scope():
    """Release every ``pin`` made inside the block, newest first, when it
    exits, normally or by exception. Scopes nest (a pin lands in the
    innermost one) and are per thread. Collect results before the block
    ends; a failing release never masks the body's exception."""
    releases: list = []
    _stack().append(releases)
    ok = False
    try:
        yield
        ok = True
    finally:
        _stack().pop()
        errors = []
        for release in reversed(releases):
            try:
                release()
            except Exception as e:  # noqa: BLE001 - keep releasing the rest
                errors.append(e)
        if errors and ok:
            raise errors[0]


def _drop_checkpoint(df) -> None:
    # DataFrame.rdd.unpersist() is a no-op (a fresh javaToPython RDD): go
    # through the plan's LogicalRDD; failing that, the ContextCleaner frees on GC
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except (Py4JError, AttributeError):
        pass


def pin(target, how: str = "persist", *, eager: bool = True,
        checkpoint_dir: str | None = None, outer: bool = False):
    """Materialize ``target`` - ``"persist"`` (lazy), ``"checkpoint"``
    (``localCheckpoint(eager)``, reliable with ``checkpoint_dir``) or
    ``"broadcast"`` (returns the Broadcast) - and register its release with
    the innermost open ``query_scope``; ``outer=True``: the one enclosing
    it, for a result that outlives the inner scope whose tables fed it.
    No such scope: nothing registers (clearCache or GC frees it). The
    checkpoint dir is session-global and first-setter-wins."""
    if how == "persist":
        out = target.persist()
        release = out.unpersist
    elif how == "broadcast":
        out = SparkContext.getOrCreate().broadcast(target)
        release = out.unpersist
    elif how == "checkpoint":
        if checkpoint_dir is None:
            out = target.localCheckpoint(eager)
        else:
            sc = target.sparkSession.sparkContext
            current = sc.getCheckpointDir()  # Spark appends a uuid to the set dir
            cur = urlparse(current or "").path.rstrip("/")
            if current is None:
                sc.setCheckpointDir(checkpoint_dir)
            elif os.path.abspath(urlparse(checkpoint_dir).path) not in (cur, os.path.dirname(cur)):
                # another operator may still be writing under the current dir
                warnings.warn(f"checkpoint dir already set to {current}; keeping it "
                              f"over requested {checkpoint_dir} (set it before the "
                              "first checkpointing operator to take effect)",
                              stacklevel=3)
            out = target.checkpoint(eager)
        release = lambda: _drop_checkpoint(out)  # noqa: E731
    else:
        raise ValueError(f"how must be 'persist', 'checkpoint' or 'broadcast', got {how!r}")
    stack = _stack()
    if len(stack) > outer:
        stack[-1 - outer].append(release)
    return out
