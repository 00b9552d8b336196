"""``registry_batch``: the bench registry queries over the sf0.1-shaped corpus.

A run warms up, checking every query's rows against its DuckDB oracle and
running it once more into the noop sink, and pauses. Then it
runs whole passes over every query, each in a new seeded order, until
``--seconds`` have passed and at least MIN_PASSES passes are done. A pass
takes longer than the usual ``--seconds``, so every run times the same
MIN_PASSES passes: a slower host does not also mean fewer, less warm samples.
Each timed execution clears the session cache first, runs in its own job
group and writes to the noop sink. One query execution is one op; the latency
metrics are quantiles over every timed execution.
"""

from __future__ import annotations

import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from real_time_crypto_market_data_pipeline_spark.plans import ORACLES, QUERIES

import probes

# The reference's analytic surface: many small shuffles, scheduling-bound.
MARKET = ["q_asof_join", "q_percentiles", "q_grouped_stats", "q_lag_diff", "q_window_range",
          "q_csv_snapshot", "q_interval_count", "q_join_enrich", "q_order_revenue_topk",
          "q_tpch_q1", "q_tpch_q5", "q_tpch_q9", "q_tpch_q21"]
# The LLM-data operators: heavy compute plus persist and checkpoint.
DEDUP = ["q_dedup_exact", "q_dedup_near", "q_dedup_jaccard_pruned", "q_dedup_lsh_jaccard",
         "q_cosine_topk", "q_token_stats"]
QUERY_NAMES = MARKET + DEDUP
# Warm-up runs CHECK_THREADS queries at a time, longest cold execution
# first, so it ends soon after the work does and takes about the same time in
# every run.
CHECK_THREADS = 4
WARM_ORDER = ["q_dedup_lsh_jaccard", "q_dedup_jaccard_pruned", "q_asof_join", "q_tpch_q21",
              "q_csv_snapshot", "q_lag_diff", "q_interval_count", "q_order_revenue_topk",
              "q_tpch_q9", "q_window_range", "q_percentiles", "q_dedup_near", "q_cosine_topk",
              "q_tpch_q5", "q_grouped_stats", "q_dedup_exact", "q_token_stats", "q_tpch_q1",
              "q_join_enrich"]
assert sorted(WARM_ORDER) == sorted(QUERY_NAMES)
# A query's first noop execution after the check is still much slower than
# later ones and would scatter the timed quantiles, so warm-up runs each query
# once more; all but the two slowest, whose executions lie above the tail
# percentile however warm they are and which would add a third to warm-up.
WARM_SKIP = 2
MIN_PASSES = 2
# 2 passes of 19 queries give 38 executions; 30% of 37 gaps leaves 11 beyond.
TAIL_PERCENTILE = 0.70


class Oracles:
    """DuckDB oracle results, computed on a thread while the session starts."""

    def __init__(self, corpus_dir: str, names: list[str]):
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.seconds = 0.0
        self._error: BaseException | None = None
        self._thread = threading.Thread(target=self._run, args=(corpus_dir, names))
        self._thread.start()

    def _run(self, corpus_dir: str, names: list[str]) -> None:
        from tools.selfcheck import duckdb_with_views

        t0 = time.perf_counter()
        try:
            con = duckdb_with_views(corpus_dir)
            con.execute("SET threads = 2")  # leave cores to the starting JVM
            try:
                for name in names:
                    rel = con.sql(ORACLES[name])
                    self.rows[name] = (rel.columns, rel.fetchall())
            finally:
                con.close()
        except BaseException as exc:  # noqa: BLE001 - re-raised on the main thread
            self._error = exc
        self.seconds = time.perf_counter() - t0

    def wait(self) -> None:
        self._thread.join()
        if self._error is not None:
            raise self._error


def _warm_up(spark, ctx, oracles: Oracles) -> tuple[float, list[str]]:
    """Run every query once, collecting its rows, and compare them with its
    oracle; then run it once more into the noop sink the timed executions
    use. The cold first executions are mostly driver-side planning and code
    generation, so CHECK_THREADS queries run at a time, in WARM_ORDER.
    Returns the wall seconds and the names that failed."""
    from tools.selfcheck import compare

    def check(name: str):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, ctx.corpus_dir)
        rows = [tuple(r) for r in df.collect()]
        check_s = time.perf_counter() - t0
        if name not in WARM_ORDER[:WARM_SKIP]:
            df.write.mode("overwrite").format("noop").save()
        return df.columns, rows, check_s

    spark.catalog.clearCache()
    failed, spark_s = [], {}
    t0 = time.perf_counter()
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        futures = {name: pool.submit(check, name) for name in WARM_ORDER}
        for name, future in futures.items():
            try:
                cols, rows, spark_s[name] = future.result()
            except Exception as exc:  # noqa: BLE001 - a failing query is counted, then reported
                failed.append(name)
                ctx.problems.append(f"{name}: {type(exc).__name__}: {exc}")
                continue
            problems = compare(cols, rows, *oracles.rows[name])
            if problems:
                failed.append(name)
                ctx.problems.append(f"{name}: " + "; ".join(problems[:3]))
    wall_s = time.perf_counter() - t0
    ctx.record["check"] = {"spark_s": spark_s, "wall_s": wall_s, "oracle_s": oracles.seconds}
    return wall_s, failed


def _execute(spark, name: str, corpus_dir: str, group: str) -> tuple[float, float]:
    """Run one query into the noop sink; return its wall and CPU seconds."""
    spark.sparkContext.setJobGroup(group, name)
    cpu0, t0 = probes.tree_cpu_s(), time.perf_counter()
    QUERIES[name](spark, corpus_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0, probes.tree_cpu_s() - cpu0


def run(spark, ctx, oracles: Oracles) -> dict:
    names = QUERY_NAMES
    rng = random.Random(ctx.seed)
    order = names[:]
    t0 = time.perf_counter()
    oracles.wait()
    ctx.record["oracle_wait_s"] = time.perf_counter() - t0
    warm_s, check_failed = _warm_up(spark, ctx, oracles)
    time.sleep(probes.JIT_SETTLE_S)
    warm_s += probes.JIT_SETTLE_S

    samples: dict[str, list[float]] = {n: [] for n in names}
    passes = 0
    cpu: dict[str, list[float]] = {n: [] for n in names}
    profiles: dict[str, list[dict]] = {n: [] for n in names}
    overhead_s = 0.0
    attempted = failed = 0
    start = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        passes += 1
        rng.shuffle(order)
        for name in order:
            op = attempted
            attempted += 1
            spark.catalog.clearCache()
            group = f"perfbench-{op}"
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"query.{name}", op):
                    if ctx.tracer.enabled:
                        with ctx.tracer.span("status_store", op):
                            persisted = probes.persisted_rdds(spark)
                    seconds, cpu_s = _execute(spark, name, ctx.corpus_dir, group)
                    if ctx.tracer.enabled:
                        with ctx.tracer.span("status_store", op):
                            prof = probes.job_group_profile(spark, group, seconds * 1000)
                            # persisted RDDs the query left behind
                            prof["cache_entries"] = probes.persisted_rdds(spark) - persisted
                            profiles[name].append(prof)
            except Exception as exc:  # noqa: BLE001 - counted, then reported
                failed += 1
                ctx.problems.append(f"{name} op {op}: {type(exc).__name__}: {exc}")
                continue
            overhead_s += time.perf_counter() - t0 - seconds
            samples[name].append(seconds)
            cpu[name].append(cpu_s)
    ctx.record["phases"] = {"warm_s": warm_s, "timed_s": time.perf_counter() - start,
                            "passes": passes}

    medians = {n: probes.median(v) for n, v in samples.items() if v}
    every = [x for v in samples.values() for x in v]
    result = {
        "setup_s": ctx.session_s + warm_s,
        "throughput_per_s": len(medians) / sum(medians.values()) if medians else 0.0,
        "latency_p50_ms": probes.quantile(every, 0.5) * 1000,
        "latency_tail_ms": probes.quantile(every, TAIL_PERCENTILE) * 1000,
        # the mean of per-query medians: the mix of queries a window holds
        # does not count
        "cpu_ms_per_op": (sum(probes.median(v) for v in cpu.values() if v) * 1000
                          / max(len(medians), 1)),
        "attempted": attempted + len(names),
        "failed": failed + len(check_failed),
        "samples": {n: len(v) for n, v in samples.items()},
        "query_ms": {n: [round(x * 1000, 1) for x in v] for n, v in samples.items()},
    }
    if ctx.tracer.enabled:
        result["layers"] = _layers(medians, profiles, overhead_s / max(attempted, 1))
    return result


def _mean(profiles: list[dict], key: str) -> float:
    return sum(p[key] for p in profiles) / len(profiles) if profiles else 0.0


def _layers(medians: dict, profiles: dict[str, list[dict]], overhead_s: float) -> dict:
    layers = {f"query.{n}_ms": ms * 1000 for n, ms in medians.items()}
    every = [p for runs in profiles.values() for p in runs]
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "shuffle_bytes",
                "driver_gap_ms"):
        layers[f"spark.{key}_per_query"] = _mean(every, key)
    for group, names in (("market", MARKET), ("dedup", DEDUP)):
        layers[f"cache.entries_after_query.{group}"] = _mean(
            [p for n in names for p in profiles[n]], "cache_entries")
    layers["trace.overhead_ms_per_op"] = overhead_s * 1000
    return layers
