from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from real_time_crypto_market_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    yield s


@pytest.fixture(scope="session")
def raw_frames(spark):
    """Golden OKX frames per FIXTURES.md A1-A3, with receive stamps."""

    frames = [
        # valid books5 (A1)
        '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
        ' "data": [{"ts": "1735689600123",'
        ' "bids": [["92578.70", "0.512", "0", "3"], ["92578.60", "1.020", "0", "5"]],'
        ' "asks": [["92578.80", "0.250", "0", "2"], ["92578.90", "0.800", "0", "4"]]}]}',
        # valid trades with 2 items (A2) -> explode to 2 events
        '{"arg": {"channel": "trades", "instId": "ETH-USDT"},'
        ' "data": [{"ts": "1735689600200", "px": "3205.85", "sz": "0.150000", "side": "buy", "tradeId": "987654321"},'
        '          {"ts": "1735689600201", "px": "3205.86", "sz": "0.020000", "side": "sell", "tradeId": "987654322"}]}',
        # control frames -> drop (A3)
        '{"event": "subscribe", "arg": {"channel": "books5", "instId": "BTC-USDT"}}',
        '{"event": "unsubscribe", "arg": {"channel": "books5", "instId": "BTC-USDT"}}',
        '{"event": "error", "msg": "bad"}',
        # shape violations -> drop (A3)
        '{"arg": {"instId": "BTC-USDT"}, "data": [{"ts": "1"}]}',
        '{"arg": {"channel": "books5", "instId": "BTC-USDT"}, "data": []}',
        '{"arg": {"channel": "books5"}, "data": [{"ts": "1"}]}',
        # books5 with non-numeric ts -> drop whole message (A3)
        '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
        ' "data": [{"ts": "oops", "bids": [["1", "2", "0", "3"]], "asks": []}]}',
        # trades: one bad-ts item skipped, sibling kept (A3)
        '{"arg": {"channel": "trades", "instId": "BTC-USDT"},'
        ' "data": [{"ts": "bad", "px": "1.0", "sz": "1.0", "side": "buy", "tradeId": "1"},'
        '          {"ts": "1735689600300", "px": "2.0", "sz": "3.0", "side": "sell", "tradeId": "2"}]}',
        # book with short + unparsable levels -> levels skipped, empty asks -> 0.0 (A3)
        '{"arg": {"channel": "books5", "instId": "SOL-USDT"},'
        ' "data": [{"ts": "1735689600400",'
        ' "bids": [["10.5", "1.0", "0", "2"], ["bad", "1.0", "0", "2"], ["9.5", "2.0"]],'
        ' "asks": []}]}',
        # invalid JSON / non-dict -> dropped at decode (A3)
        "pong",
        "[1, 2]",
        "{not json",
        # valid frame on a channel nobody subscribed to -> no event
        '{"arg": {"channel": "tickers", "instId": "XRP-USDT"},'
        ' "data": [{"ts": "1735689600500", "last": "2.5"}]}',
    ]
    rows = [
        (raw, 1735689600441 + i, 1_000_000_000 + i * 1000, 1_000_012_345 + i * 1000)
        for i, raw in enumerate(frames)
    ]
    return spark.createDataFrame(
        rows,
        "raw STRING, ts_recv_epoch_ms LONG, ts_recv_mono_ns LONG, ts_decoded_mono_ns LONG",
    )
