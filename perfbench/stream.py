"""``stream_fanout``: closed-loop drains of a seeded frame file through the
CLI's wiring.

One drain is: replay source -> ``observe_decode_health`` ->
``normalize_frames`` -> JSONL sink and CSV snapshot sink, two concurrent
checkpointed queries with ``trigger_seconds=0`` and the console sink off,
run until both have processed every frame. Each drain gets fresh output and
checkpoint directories. One frame is one op.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import functions as F

from real_time_crypto_market_data_pipeline_spark.operators.normalize import (
    jsonl_encode,
    normalize_frames,
)
from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import _stamp
from real_time_crypto_market_data_pipeline_spark.streaming.observability import (
    OBSERVATION_NAME,
    observe_decode_health,
)
from real_time_crypto_market_data_pipeline_spark.streaming.pipeline import read_raw_stream
from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
    CSV_COLUMNS,
    start_csv_snapshot_sink,
    start_jsonl_sink,
    stop_all,
)

import probes
from frames import FrameFile, write_frames

BATCH_FRAMES = 2000      # frames per microbatch, fixed
# Per-trigger time keeps falling for about 20 triggers after the session
# starts, so a warm-up drain of 3 triggers and an idle pause precede the
# timed drains.
WARM_FRAMES = 6_000
TIMED_FRAMES = 16_000    # frames per timed drain: 8 full microbatches per sink query
MIN_DRAINS = 2           # >= 32 microbatch samples per run
TAIL_PERCENTILE = 0.65   # >= 11 of 32 samples lie beyond it
LOCAL1_FRAMES = 4_000    # input of the single-threaded baseline drain


@dataclass
class Drain:
    seconds: float       # wiring start until both sinks processed every frame
    work: str
    progress: dict[str, list[dict]]
    stop_s: float


def _progress(query) -> list[dict]:
    """The query's microbatches that read input, as plain dicts."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def drain(spark, frames: FrameFile, work: str, tracer: probes.Tracer, op: int) -> Drain:
    """Run the fan-out pipeline over ``frames`` until both sinks are done."""
    os.makedirs(work)
    with tracer.span("drain", op):
        t0 = time.perf_counter()
        with tracer.span("read_raw_stream", op):
            raw = read_raw_stream(spark, mode="replay", path=frames.path,
                                  batch_size=BATCH_FRAMES)
        with tracer.span("observe_decode_health", op):
            raw = observe_decode_health(raw)
        with tracer.span("normalize_frames", op):
            events = normalize_frames(raw)
        with tracer.span("start_jsonl_sink", op):
            jsonl = start_jsonl_sink(events, f"{work}/data", f"{work}/ckpt_jsonl",
                                     trigger_seconds=0)
        with tracer.span("start_csv_snapshot_sink", op):
            csv = start_csv_snapshot_sink(events, f"{work}/metrics_csv", f"{work}/ckpt_csv",
                                          trigger_seconds=0)
        try:
            with tracer.span("process_all_available", op):
                jsonl.processAllAvailable()
                csv.processAllAvailable()
            seconds = time.perf_counter() - t0
        finally:
            t1 = time.perf_counter()
            with tracer.span("stop_all", op):
                stop_all([jsonl, csv])
            stop_s = time.perf_counter() - t1
    return Drain(seconds, work, {"jsonl": _progress(jsonl), "csv": _progress(csv)}, stop_s)


def _raw_frames_df(spark, frames: FrameFile, lo: int = 0, hi: int | None = None):
    """The frames as the replay source stamps them, as a batch DataFrame."""
    with open(frames.path, encoding="utf-8") as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    hi = len(lines) if hi is None else hi
    epoch_ms, recv_ns, decoded_ns = zip(*(_stamp(i) for i in range(lo, hi)))
    return spark.createDataFrame(pa.table({
        "raw": lines[lo:hi],
        "ts_recv_epoch_ms": pa.array(epoch_ms, pa.int64()),
        "ts_recv_mono_ns": pa.array(recv_ns, pa.int64()),
        "ts_decoded_mono_ns": pa.array(decoded_ns, pa.int64())}))


def _digest(df, col: str) -> tuple[int, int]:
    """Row count and an order-insensitive hash (sum of 64-bit row hashes)."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(F.col(col)).cast("decimal(38,0)")).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def _observed(progress: list[dict], key: str) -> int:
    return sum(int(p.get("observedMetrics", {}).get(OBSERVATION_NAME, {}).get(key, 0))
               for p in progress)


def check_outputs(spark, frames: FrameFile, d: Drain) -> list[str]:
    """Compare one drain's outputs with batch ``normalize_frames`` over the
    same frames; return the problems found."""
    problems = []
    raw = _raw_frames_df(spark, frames)
    want = _digest(jsonl_encode(normalize_frames(raw)), "jsonl")
    got = _digest(spark.read.text(f"{d.work}/data").select("value"), "value")
    if got != want:
        problems.append(f"jsonl (count, hash) {got} != batch normalize {want}")
    for name, prog in d.progress.items():
        errors, total = _observed(prog, "decode_errors"), _observed(prog, "frames_total")
        if errors != frames.n_malformed:
            problems.append(f"{name}: decode_errors {errors} != injected {frames.n_malformed}")
        if total != frames.n_frames:
            problems.append(f"{name}: frames_total {total} != {frames.n_frames}")
    lo, hi = _lines(d.progress["csv"][-1])
    keys = {(r["symbol"], r["channel"]) for r in
            normalize_frames(_raw_frames_df(spark, frames, lo, hi))
            .select("symbol", "channel").distinct().collect()}
    csv_files = [f for f in os.listdir(f"{d.work}/metrics_csv") if f.endswith(".csv")]
    lines = []
    for name in csv_files:
        with open(f"{d.work}/metrics_csv/{name}", encoding="utf-8") as f:
            lines += f.read().splitlines()
    header, rows = (lines[0], lines[1:]) if lines else ("", [])
    if header != ",".join(CSV_COLUMNS):
        problems.append(f"csv header {header!r} is not the A6 header")
    got_keys = [tuple(r.split(",")[1:3]) for r in rows]
    if sorted(got_keys) != sorted(keys):
        problems.append(f"csv rows {sorted(got_keys)} != final-batch keys {sorted(keys)}")
    return problems


def _dur(prog: list[dict], *keys: str) -> list[float]:
    return [sum(p["durationMs"].get(k, 0) for k in keys) for p in prog]


def _lines(p: dict) -> tuple[int, int]:
    """The frame (line) range one microbatch read."""
    src = p["sources"][0]
    return (src["startOffset"] or {"line": 0})["line"], src["endOffset"]["line"]


def _full(prog: list[dict]) -> list[dict]:
    """Microbatches that read a full batch of frames."""
    return [p for p in prog if _lines(p)[1] - _lines(p)[0] == BATCH_FRAMES]


def _jsonl_files(work: str) -> tuple[int, int]:
    n = size = 0
    for root, dirs, files in os.walk(f"{work}/data"):
        dirs[:] = [x for x in dirs if not x.startswith("_")]
        for name in files:
            if name.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def run(spark, ctx) -> dict:
    """Warm up, drain for ``ctx.seconds``, check the last drain's outputs."""
    warm = write_frames(f"{ctx.work}/warm.jsonl", WARM_FRAMES, ctx.seed + 1)
    timed = write_frames(f"{ctx.work}/frames.jsonl", TIMED_FRAMES, ctx.seed)
    ctx.record["frames"] = {"n": timed.n_frames, "malformed": timed.n_malformed,
                            "sha256": timed.sha256, "batch_frames": BATCH_FRAMES}
    t0 = time.perf_counter()
    drain(spark, warm, f"{ctx.work}/warm", probes.Tracer(False), -1)
    time.sleep(probes.JIT_SETTLE_S)
    warm_s = time.perf_counter() - t0

    drains: list[Drain] = []
    overhead_s = 0.0
    attempted = failed = 0
    cpu0, start = probes.tree_cpu_s(), time.perf_counter()
    while len(drains) < MIN_DRAINS or time.perf_counter() - start < ctx.seconds:
        op = len(drains)
        attempted += timed.n_frames
        t0 = time.perf_counter()
        try:
            d = drain(spark, timed, f"{ctx.work}/drain{op}", ctx.tracer, op)
        except Exception as exc:  # noqa: BLE001 - a failed drain is counted, then reported
            failed += timed.n_frames
            ctx.problems.append(f"drain {op}: {type(exc).__name__}: {exc}")
            break
        overhead_s += time.perf_counter() - t0 - d.seconds - d.stop_s
        drains.append(d)
    cpu_s = probes.tree_cpu_s() - cpu0
    ctx.record["phases"] = {"warm_s": warm_s, "timed_s": time.perf_counter() - start}

    if drains:
        t0 = time.perf_counter()
        problems = check_outputs(spark, timed, drains[-1])
        ctx.record["phases"]["check_s"] = time.perf_counter() - t0
        if problems:
            failed = attempted  # the output check covers every drain's frames
            ctx.problems += problems
    ok_frames = sum(timed.n_frames for _ in drains)
    lat = [x for d in drains for prog in d.progress.values()
           for x in _dur(_full(prog), "triggerExecution")]
    result = {
        "setup_s": ctx.session_s + warm_s,
        "throughput_per_s": ok_frames / sum(d.seconds for d in drains) if drains else 0.0,
        "latency_p50_ms": probes.quantile(lat, 0.5),
        "latency_tail_ms": probes.quantile(lat, TAIL_PERCENTILE),
        "cpu_ms_per_op": cpu_s * 1000 / max(attempted, 1),
        "attempted": attempted, "failed": failed,
        "samples": {"drains": len(drains), "microbatches": len(lat)},
    }
    if ctx.tracer.enabled and drains:
        result["layers"] = _layers(spark, ctx, timed, drains)
        result["layers"]["trace.overhead_ms_per_op"] = overhead_s * 1000 / attempted
        local1 = write_frames(f"{ctx.work}/local1.jsonl", LOCAL1_FRAMES, ctx.seed + 2)
        result["layers"]["stream.local1_frames_per_s"] = _local1_fps(spark, local1, ctx.work)
    return result


def _local1_fps(spark, frames: FrameFile, work: str) -> float:
    """Frames per second of one drain on a new single-threaded session; the
    run's own session is stopped first and is not usable afterwards."""
    from real_time_crypto_market_data_pipeline_spark.session import get_spark

    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    local1 = get_spark("perfbench-local1")
    local1.sparkContext.setLogLevel("ERROR")
    d = drain(local1, frames, f"{work}/local1", probes.Tracer(False), -2)
    return frames.n_frames / d.seconds


def _noop_drain_fps(spark, frames: FrameFile, work: str) -> float:
    """Frames per second of the replay source alone, into a noop sink."""
    t0 = time.perf_counter()
    q = (read_raw_stream(spark, mode="replay", path=frames.path, batch_size=BATCH_FRAMES)
         .writeStream.format("noop").option("checkpointLocation", f"{work}/ckpt")
         .trigger(processingTime="0 seconds").start())
    try:
        q.processAllAvailable()
        return frames.n_frames / (time.perf_counter() - t0)
    finally:
        stop_all([q])


def _layers(spark, ctx, timed: FrameFile, drains: list[Drain]) -> dict:
    jsonl = [p for d in drains for p in d.progress["jsonl"]]
    csv = [p for d in drains for p in d.progress["csv"]]
    files, size = _jsonl_files(drains[-1].work)
    rows_read = sum(p["numInputRows"] for p in drains[-1].progress["jsonl"]
                    + drains[-1].progress["csv"])

    raw = _raw_frames_df(spark, timed).cache()
    raw.count()
    events = normalize_frames(raw).count()
    norm_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        normalize_frames(raw).write.mode("overwrite").format("noop").save()
        norm_s.append(time.perf_counter() - t0)
    raw.unpersist()
    alone = _noop_drain_fps(spark, timed, f"{ctx.work}/alone")

    return {
        "okx_ws.read_ms_per_batch": probes.median(_dur(jsonl + csv, "latestOffset", "getBatch")),
        "okx_ws.frames_per_s_alone": alone,
        "okx_ws.rows_read_per_frame": rows_read / timed.n_frames,
        "normalize.frames_per_s": timed.n_frames / probes.median(norm_s),
        "normalize.events_per_frame": events / timed.n_frames,
        # each sink query decodes and normalizes every frame itself
        "normalize.passes_per_frame": sum(_observed(prog, "frames_total") for prog
                                          in drains[-1].progress.values()) / timed.n_frames,
        "decode_health.frames_total": _observed(drains[-1].progress["jsonl"], "frames_total"),
        "decode_health.decode_errors": _observed(drains[-1].progress["jsonl"], "decode_errors"),
        "sinks.jsonl.add_batch_ms": probes.median(_dur(jsonl, "addBatch")),
        "sinks.csv.add_batch_ms": probes.median(_dur(csv, "addBatch")),
        "sinks.commit_ms": probes.median(_dur(jsonl + csv, "walCommit", "commitOffsets")),
        "sinks.jsonl.files_per_batch": files / max(len(drains[-1].progress["jsonl"]), 1),
        "sinks.jsonl.bytes_per_frame": size / timed.n_frames,
    }
