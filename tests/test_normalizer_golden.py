"""Golden-frame replay tests: exact drop-policy parity with the reference
normalizer (FIXTURES.md part A; reference normalizer.py / okx_ws.py)."""

from __future__ import annotations

from real_time_crypto_market_data_pipeline_spark.operators import normalize as N


def events_of(raw_frames):
    return N.normalize_frames(raw_frames).orderBy("ts_exchange_ms", "symbol")


def test_total_surviving_events(raw_frames):
    # 1 book + 2 trades + 1 surviving trade sibling + 1 book w/ bad levels = 5
    assert N.normalize_frames(raw_frames).count() == 5


def test_book_event_values(raw_frames):
    ev = events_of(raw_frames).where("symbol = 'BTC-USDT' AND event_type = 'book_topn'").first()
    assert ev.channel == "books5"
    assert ev.ts_exchange_ms == 1735689600123
    assert ev.book.n == 5
    assert ev.book.best_bid == 92578.70
    assert ev.book.best_ask == 92578.80
    assert [(lv.price, lv.size, lv["count"]) for lv in ev.book.bids] == [
        (92578.70, 0.512, 3),
        (92578.60, 1.020, 5),
    ]
    assert ev.trade is None


def test_trade_explode_fanout(raw_frames):
    trades = events_of(raw_frames).where("symbol = 'ETH-USDT'").collect()
    assert [t.trade.trade_id for t in trades] == ["987654321", "987654322"]
    assert [t.trade.side for t in trades] == ["buy", "sell"]
    assert all(t.event_type == "trade" and t.book is None for t in trades)


def test_control_and_shape_frames_dropped(raw_frames):
    ev = N.normalize_frames(raw_frames)
    # none of the control/malformed frames produce SOL/other rows beyond the 5
    assert ev.where("exchange <> 'okx'").count() == 0
    assert ev.where("channel NOT IN ('books5', 'trades')").count() == 0
    # a well-formed frame on an unsubscribed channel (tickers) yields nothing
    assert ev.where("symbol = 'XRP-USDT'").count() == 0


def test_bad_ts_books5_drops_whole_message(raw_frames):
    # the books5 frame with ts="oops" contributed nothing
    ev = N.normalize_frames(raw_frames)
    assert ev.where("book IS NOT NULL AND ts_exchange_ms IS NULL").count() == 0
    assert ev.where("symbol = 'BTC-USDT' AND event_type = 'book_topn'").count() == 1


def test_bad_ts_trade_item_skips_item_only(raw_frames):
    btc_trades = N.normalize_frames(raw_frames).where(
        "symbol = 'BTC-USDT' AND event_type = 'trade'"
    ).collect()
    assert len(btc_trades) == 1
    assert btc_trades[0].trade.trade_id == "2"
    assert btc_trades[0].ts_exchange_ms == 1735689600300


def test_level_skip_and_empty_side_defaults(raw_frames):
    sol = N.normalize_frames(raw_frames).where("symbol = 'SOL-USDT'").first()
    # short level and unparsable price dropped; one valid bid remains
    assert [(lv.price, lv.size, lv["count"]) for lv in sol.book.bids] == [(10.5, 1.0, 2)]
    assert sol.book.asks == []
    assert sol.book.best_bid == 10.5
    assert sol.book.best_ask == 0.0  # empty side default (normalizer.py:124-125)


def test_union_payload_null_discipline(raw_frames):
    """event_type='book_topn' <=> book IS NOT NULL (FIXTURES.md A4 invariant)."""
    ev = N.normalize_frames(raw_frames)
    assert ev.where("event_type = 'book_topn' AND (book IS NULL OR trade IS NOT NULL)").count() == 0
    assert ev.where("event_type = 'trade' AND (trade IS NULL OR book IS NOT NULL)").count() == 0


def test_monotonicity_counter(raw_frames):
    row = N.monotonicity_violations(N.normalize_frames(raw_frames)).first()
    assert row.decode_before_recv == 0
    assert row.proc_before_decode == 0
    assert row.total == 5


def test_jsonl_encode_golden(raw_frames):
    """FIXTURES.md A5: flat scalars + payload with positional level arrays."""
    import json

    out = N.jsonl_encode(N.normalize_frames(raw_frames))
    row = out.where("symbol = 'BTC-USDT' AND channel = 'books5'").first()
    assert row.dt == "2025-01-01"  # 1735689600441 ms = 2025-01-01T00:00:00.441Z
    parsed = json.loads(row.jsonl)
    assert parsed["exchange"] == "okx"
    assert parsed["event_type"] == "book_topn"
    assert parsed["payload"]["bids"][0] == [92578.7, 0.512, 3]
    assert parsed["payload"]["best_bid"] == 92578.7
    # byte parity with the reference's json.dumps: level counts are
    # ints ("...,3]"), never the double rendering ("...,3.0]")
    assert "[92578.7,0.512,3]" in row.jsonl
    assert ".0]" not in row.jsonl


def test_stdout_render_format(raw_frames):
    lines = {
        r.symbol: r.line
        for r in N.render_stdout_line(N.normalize_frames(raw_frames)).collect()
        if r.event_type == "book_topn" and r.symbol == "BTC-USDT"
    }
    line = lines["BTC-USDT"]
    assert line.startswith("BTC-USDT | bid=92578.70 ask=92578.80 spread=0.10 | ")
    assert "Ex→Recv=" in line and "ms" in line
