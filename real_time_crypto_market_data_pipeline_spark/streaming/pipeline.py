"""Streaming pipeline composition (SURVEY 2.5 P1-P2, 3.1-3.3).

The reference wires source -> normalize -> {metrics, sinks} as three
asyncio tasks in one event loop (app.py:80-109). Here the same
dataflow is one streaming DataFrame lineage fanned out to independent
checkpointed StreamingQueries - the platform supplies the concurrency,
backpressure, and restart semantics the reference hand-rolled.

    raw frames (okx_frames source, replay or live)
      -> normalize_frames (identical Catalyst exprs as batch - the
         batch/streaming unification is the point of Structured
         Streaming: one definition, two physical plans)
      -> [jsonl sink]  [console sink]  [csv snapshot]

``start_pipeline`` is that wiring, and the CLI (``app.main``) runs it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.normalize import normalize_frames
from ..sources.okx_ws import register
from . import sinks as K


def read_raw_stream(
    spark: SparkSession,
    mode: str = "replay",
    path: str | None = None,
    batch_size: int = 100,
    symbols: str = "BTC-USDT,ETH-USDT",
    channels: str = "books5",
    *,
    url: str | None = None,
) -> DataFrame:
    """P1: CLI/config surface -> readStream options (app.py:150-196).

    ``url`` is the live WebSocket endpoint; None keeps the source's
    default (the OKX public feed).
    """
    register(spark)
    reader = (
        spark.readStream.format("okx_frames")
        .option("mode", mode)
        .option("batchsize", str(batch_size))
        .option("symbols", symbols)
        .option("channels", channels)
    )
    if path is not None:
        reader = reader.option("path", path)
    if url is not None:
        reader = reader.option("url", url)
    return reader.load()


def windowed_latency_stats(
    events: DataFrame,
    window: str = "5 seconds",
    slide: str = "1 second",
    watermark: str = "10 seconds",
) -> DataFrame:
    """A1+A5 (streaming): sliding event-time window stats with a
    watermark - the late-data policy the reference lacks (SURVEY 2.6).

    p50/p95/p99 use percentile_approx here: the exact sorted-window
    rule is not incrementally maintainable; the documented streaming
    delta (SURVEY hard-part 3).
    """
    lat = events.select(
        "symbol", "channel",
        F.timestamp_millis(F.col("ts_exchange_ms")).alias("event_time"),
        (F.col("ts_recv_epoch_ms") - F.col("ts_exchange_ms"))
        .cast("double")
        .alias("lat_ms"),
    ).withWatermark("event_time", watermark)
    return lat.groupBy("symbol", "channel", F.window("event_time", window, slide)).agg(
        F.count("lat_ms").alias("lat_count"),
        F.avg("lat_ms").alias("lat_mean"),
        F.coalesce(F.stddev_samp("lat_ms"), F.lit(0.0)).alias("lat_std"),
        F.min("lat_ms").alias("lat_min"),
        F.max("lat_ms").alias("lat_max"),
        F.percentile_approx("lat_ms", 0.5).alias("p50"),
        F.percentile_approx("lat_ms", 0.95).alias("p95"),
        F.percentile_approx("lat_ms", 0.99).alias("p99"),
    )


@dataclass
class PipelineHandles:
    queries: dict[str, StreamingQuery] = field(default_factory=dict)

    def process_all_available(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        K.stop_all(list(self.queries.values()))


def start_pipeline(
    spark: SparkSession,
    *,
    out_dir: str,
    mode: str = "replay",
    path: str | None = None,
    symbols: str = "BTC-USDT,ETH-USDT",
    channels: str = "books5",
    url: str | None = None,
    console: bool = False,
    jsonl: bool = True,
    csv_dir: str | None = None,
    csv_interval: float = 30.0,
) -> PipelineHandles:
    """P2: full dataflow wiring with multi-sink fan-out (app.py:80-109).

    Every parameter is one CLI flag. JSONL lines land under
    ``{out_dir}/events``, each sink checkpoints to ``{out_dir}/_ckpt/<sink>``,
    and the CSV snapshot (off when ``csv_dir`` is None) overwrites
    ``csv_dir`` every ``csv_interval`` seconds. The raw stream carries the
    decode-health counters, so every sink query reports them.

    Each sink is an independent checkpointed query over the same
    normalized lineage - K6's per-sink error isolation comes from
    query isolation instead of try/except per write.
    """
    from .observability import observe_decode_health

    raw = observe_decode_health(read_raw_stream(
        spark, mode=mode, path=path, symbols=symbols, channels=channels, url=url
    ))
    events = normalize_frames(raw)
    out = out_dir.rstrip("/")
    handles = PipelineHandles()
    if jsonl:
        handles.queries["jsonl"] = K.start_jsonl_sink(
            events, f"{out}/events", f"{out}/_ckpt/jsonl"
        )
    if console:
        handles.queries["console"] = K.start_console_sink(
            events, f"{out}/_ckpt/console"
        )
    if csv_dir is not None:
        handles.queries["csv"] = K.start_csv_snapshot_sink(
            events, csv_dir, f"{out}/_ckpt/csv", trigger_seconds=csv_interval
        )
    return handles


def stream_stream_enrich(
    events: DataFrame,
    max_quote_age: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Stream-stream interval join: trades enriched with a recent book.

    Splits the normalized stream into its two typed sub-streams and joins
    trade events to book snapshots of the same symbol whose event time lies
    within [trade - max_quote_age, trade]. Watermarks on BOTH sides bound the
    join state: each side only buffers rows until the other side's watermark
    passes the interval - the mechanism that makes stream-stream joins
    feasible on unbounded input (state is O(rate x window), not O(stream)).

    This is the streaming sibling of the batch as-of join (operators/asof.py);
    an interval join can yield multiple quotes per trade (all within the age
    bound) where as-of picks the latest.
    """
    books = (
        events.where(F.col("event_type") == "book_topn")
        .select(
            F.col("symbol").alias("b_symbol"),
            F.timestamp_millis(F.col("ts_exchange_ms")).alias("b_time"),
            F.col("book.best_bid").alias("best_bid"),
            F.col("book.best_ask").alias("best_ask"))
        .withWatermark("b_time", watermark)
    )
    trades = (
        events.where(F.col("event_type") == "trade")
        .select(
            "symbol",
            F.timestamp_millis(F.col("ts_exchange_ms")).alias("t_time"),
            F.col("ts_exchange_ms"), F.col("trade.price").alias("price"),
            F.col("trade.size").alias("size"),
            F.col("trade.side").alias("side"))
        .withWatermark("t_time", watermark)
    )
    return trades.join(
        books,
        F.expr(
            f"""
            symbol = b_symbol AND
            b_time <= t_time AND
            b_time >= t_time - INTERVAL {max_quote_age}
            """
        ),
        "inner",
    ).select(
        "symbol", "ts_exchange_ms", "price", "size", "side",
        "best_bid", "best_ask",
        (F.col("price") - (F.col("best_bid") + F.col("best_ask")) / 2).alias(
            "px_vs_mid"
        ),
    )

