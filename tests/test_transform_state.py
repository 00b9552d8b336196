"""Stateful EWMA quote tracker and event-time idle flush
(streaming/stateful.py, applyInPandasWithState).
"""

from __future__ import annotations

import pytest

from real_time_crypto_market_data_pipeline_spark.operators.normalize import normalize_frames
from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file
from real_time_crypto_market_data_pipeline_spark.streaming import pipeline as P
from real_time_crypto_market_data_pipeline_spark.streaming.stateful import (
    streaming_idle_flush,
    streaming_quote_ewma,
)


def book_frame(symbol: str, ts: int, bid: float, ask: float) -> str:
    return (
        f'{{"arg": {{"channel": "books5", "instId": "{symbol}"}},'
        f' "data": [{{"ts": "{ts}", "bids": [["{bid}", "1", "0", "1"]],'
        f' "asks": [["{ask}", "1", "0", "1"]]}}]}}'
    )


def test_quote_ewma_state_survives_batches(spark, tmp_path):
    """EWMA/n carry across microbatches; a wide spread after warmup is
    flagged; values equal the hand-rolled recurrence."""
    path = str(tmp_path / "quotes.jsonl")
    batch1 = [book_frame("BTC-USDT", 1000 * (i + 1), 10.0, 11.0) for i in range(6)]
    write_replay_file(path, batch1)
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=100)
    out = streaming_quote_ewma(normalize_frames(raw), alpha=0.5, k=3.0)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second microbatch: spread 5.0 vs prevailing EWMA spread 1.0
        write_replay_file(path, batch1 + [book_frame("BTC-USDT", 7000, 10.0, 15.0)])
        q.processAllAvailable()
        rows = {
            r.ts_exchange_ms: r
            for r in spark.sql("SELECT * FROM ewma_out").collect()
        }
    finally:
        q.stop()

    assert len(rows) == 7
    # n kept counting across the batch boundary
    assert rows[7000].n == 7
    assert rows[7000].spread_blowout is True
    assert not any(rows[t].spread_blowout for t in range(1000, 7000, 1000))
    # recurrence check: ewma_mid after 6x mid=10.5 stays 10.5, then
    # alpha=0.5 pulls it toward mid=12.5
    assert rows[6000].ewma_mid == pytest.approx(10.5)
    assert rows[7000].ewma_mid == pytest.approx(0.5 * 12.5 + 0.5 * 10.5)
    # rolling tail (window=5) after the 7th event averages mids 3..7
    assert rows[7000].rolling_mid == pytest.approx((10.5 * 4 + 12.5) / 5)


def test_idle_flush_fires_on_event_time_gap(spark, tmp_path):
    """A symbol silent for gap_ms of event time is flushed exactly once
    with its session summary; an active symbol is not."""
    path = str(tmp_path / "idle.jsonl")
    btc = [book_frame("BTC-USDT", ts, 10.0, 11.0) for ts in (1000, 1500)]
    write_replay_file(path, btc)
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=100)
    out = streaming_idle_flush(
        normalize_frames(raw), gap_ms=5_000, watermark="1 second"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("idle_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_idle"))
        .start()
    )
    try:
        q.processAllAvailable()
        # ETH at t=60s advances the watermark far past BTC's 1500+5000
        write_replay_file(path, btc + [book_frame("ETH-USDT", 60_000, 5.0, 6.0)])
        q.processAllAvailable()
        # one more batch so the advanced watermark times BTC out
        write_replay_file(
            path,
            btc
            + [book_frame("ETH-USDT", ts, 5.0, 6.0) for ts in (60_000, 61_000)],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM idle_out").collect()
    finally:
        q.stop()

    flushed = {r.symbol: r for r in rows}
    assert "BTC-USDT" in flushed
    btc_row = flushed["BTC-USDT"]
    assert btc_row.n_events == 2
    assert btc_row.first_ms == 1000 and btc_row.last_ms == 1500
    assert btc_row.flushed_at_ms == 1500 + 5_000
    # ETH stayed active - never flushed
    assert "ETH-USDT" not in flushed


def test_ewma_state_survives_query_restart(spark, tmp_path):
    """GroupState is restored from the checkpointed state store on a
    full query restart (new query object, same checkpoint): the first
    event after the restart continues the EWMA recurrence instead of
    re-warming - restart-safety the reference's in-process dict lacks."""
    path = str(tmp_path / "restart.jsonl")
    batch1 = [book_frame("BTC-USDT", 1000 * (i + 1), 10.0, 11.0) for i in range(6)]
    write_replay_file(path, batch1)
    ckpt = str(tmp_path / "ckpt_restart")
    sink = str(tmp_path / "sink_restart")

    def start():
        raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=100)
        out = streaming_quote_ewma(normalize_frames(raw), alpha=0.5, k=3.0)
        return (
            out.writeStream.outputMode("append")
            .format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.json(sink)
    assert first.agg({"n": "max"}).collect()[0][0] == 6

    # grow the file, then restart from the same checkpoint
    write_replay_file(path, batch1 + [book_frame("BTC-USDT", 7000, 10.0, 15.0)])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.json(sink).collect()
    assert len(rows) == 7  # exactly one new row; batch1 not re-emitted
    r = next(r for r in rows if r.ts_exchange_ms == 7000)
    assert r.n == 7  # counter continued from recovered state
    assert r.spread_blowout is True  # EWMA spread context also recovered
    assert r.ewma_mid == pytest.approx(0.5 * 12.5 + 0.5 * 10.5)
