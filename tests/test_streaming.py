"""Streaming tests: replay source, normalize-on-stream, stateful lag,
windowed stats, sink layout (SURVEY section 5 streaming strategy)."""

from __future__ import annotations

import json
import os
import warnings

import pytest

from real_time_crypto_market_data_pipeline_spark.operators.normalize import normalize_frames
from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import (
    BackoffPolicy,
    subscribe_payload,
    write_replay_file,
)
from real_time_crypto_market_data_pipeline_spark.streaming import pipeline as P
from real_time_crypto_market_data_pipeline_spark.streaming.stateful import (
    streaming_staleness,
)

FRAMES = [
    '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
    ' "data": [{"ts": "1000", "bids": [["10", "1", "0", "1"]], "asks": [["11", "1", "0", "1"]]}]}',
    '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
    ' "data": [{"ts": "1600", "bids": [["10", "1", "0", "1"]], "asks": [["11", "1", "0", "1"]]}]}',
    '{"event": "subscribe", "arg": {"channel": "books5", "instId": "BTC-USDT"}}',
    '{"arg": {"channel": "trades", "instId": "ETH-USDT"},'
    ' "data": [{"ts": "1200", "px": "5", "sz": "2", "side": "buy", "tradeId": "t1"},'
    '          {"ts": "1500", "px": "6", "sz": "1", "side": "sell", "tradeId": "t2"}]}',
    "pong",
    '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
    ' "data": [{"ts": "2600", "bids": [["12", "1", "0", "1"]], "asks": [["13", "1", "0", "1"]]}]}',
]


@pytest.fixture()
def replay_path(tmp_path):
    return write_replay_file(str(tmp_path / "frames.jsonl"), FRAMES)


def test_subscribe_cross_product():
    payload = json.loads(subscribe_payload(["A", "B"], ["books5", "trades"]))
    assert payload["op"] == "subscribe"
    assert {(a["channel"], a["instId"]) for a in payload["args"]} == {
        ("books5", "A"),
        ("books5", "B"),
        ("trades", "A"),
        ("trades", "B"),
    }


def test_backoff_exponential_capped_jittered():
    b = BackoffPolicy()
    d0 = b.delay(0, now=100.25)  # jitter = 0.8 + 0.4*0.25 = 0.9
    assert d0 == pytest.approx(0.25 * 0.9)
    assert b.delay(10, now=100.0) == pytest.approx(30.0 * 0.8)  # capped
    assert b.delay(3, now=7.5) == pytest.approx(2.0 * 1.0)


def test_replay_reader_offsets_skip_blank_lines(tmp_path):
    """Offsets index the non-blank lines; a batched ``read`` and one
    ``readBetweenOffsets`` deliver the same frames with the same stamps."""
    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import (
        ReplayStreamReader,
    )

    path = tmp_path / "blank.jsonl"
    path.write_text("a\n\nb\n   \nc\n\n\nd\ne\n\n")
    reader = ReplayStreamReader({"path": str(path), "batchsize": "2"})
    want = [
        (ln, 1_735_689_600_000 + i, 1_000_000_000 + i * 1_000,
         1_000_000_000 + i * 1_000 + 12_345)
        for i, ln in enumerate("abcde")
    ]
    got, offset, ends = [], reader.initialOffset(), []
    while True:
        rows, offset = reader.read(offset)
        rows = list(rows)
        if not rows:
            break
        got += rows
        ends.append(offset["line"])
    assert got == want
    assert ends == [2, 4, 5]
    assert offset == {"line": 5}  # at the end, the offset stays put
    assert list(reader.readBetweenOffsets({"line": 0}, offset)) == want
    assert list(reader.readBetweenOffsets({"line": 1}, {"line": 3})) == want[1:3]


def test_replay_source_to_normalized_memory_sink(spark, replay_path, tmp_path):
    raw = P.read_raw_stream(spark, mode="replay", path=replay_path, batch_size=3)
    events = normalize_frames(raw)
    q = (
        events.writeStream.outputMode("append")
        .format("memory")
        .queryName("norm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM norm_out ORDER BY ts_exchange_ms"
        ).collect()
    finally:
        q.stop()
    # 3 books + 2 trades survive; control + pong dropped
    assert [r.event_type for r in rows] == [
        "book_topn",
        "trade",
        "trade",
        "book_topn",
        "book_topn",
    ]
    assert rows[0].book.best_bid == 10.0
    # receive stamps flow through from the source's deterministic clock
    assert rows[0].ts_recv_epoch_ms == 1_735_689_600_000


def test_streaming_staleness_state_across_batches(spark, replay_path, tmp_path):
    # batch_size=2 forces multiple microbatches -> state must persist
    raw = P.read_raw_stream(spark, mode="replay", path=replay_path, batch_size=2)
    stale = streaming_staleness(normalize_frames(raw))
    q = (
        stale.writeStream.outputMode("append")
        .format("memory")
        .queryName("stale_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_stale"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM stale_out ORDER BY symbol, ts_exchange_ms"
        ).collect()
    finally:
        q.stop()
    got = {(r.symbol, r.ts_exchange_ms): r.stale_ms for r in rows}
    # BTC books5: 1000 -> 1600 -> 2600 ; first event suppressed
    assert got[("BTC-USDT", 1600)] == 600
    assert got[("BTC-USDT", 2600)] == 1000
    # ETH trades: 1200 -> 1500
    assert got[("ETH-USDT", 1500)] == 300
    assert ("BTC-USDT", 1000) not in got


def test_windowed_latency_stats_stream(spark, replay_path, tmp_path):
    raw = P.read_raw_stream(spark, mode="replay", path=replay_path, batch_size=10)
    stats = P.windowed_latency_stats(
        normalize_frames(raw), window="5 seconds", slide="5 seconds"
    )
    # complete mode: append would hold rows until the watermark passes
    # each window, which never happens when the replay file is finite
    q = (
        stats.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM win_out").collect()
    finally:
        q.stop()
    by_key = {(r.symbol, r.channel): r for r in rows}
    btc = by_key[("BTC-USDT", "books5")]
    assert btc.lat_count == 3
    assert btc.lat_min > 0


def test_full_pipeline_jsonl_layout_and_csv(spark, replay_path, tmp_path):
    """K3 layout + K5 csv through the composed pipeline (P2)."""
    work = str(tmp_path / "work")
    handles = P.start_pipeline(
        spark, path=replay_path, out_dir=work, csv_dir=f"{work}/metrics_csv"
    )
    try:
        handles.process_all_available()
    finally:
        handles.stop()
    # Hive-style partition layout: exchange=okx/channel=../dt=../symbol=..
    found = []
    for root, _dirs, files in os.walk(f"{work}/events"):
        for f in files:
            if f.endswith(".txt"):
                found.append(os.path.join(root, f))
    assert any("exchange=okx" in p and "channel=books5" in p and "symbol=BTC-USDT" in p for p in found)
    # every written line is valid compact JSON with the payload envelope
    with open(next(p for p in found if "channel=books5" in p)) as fh:
        rec = json.loads(fh.readline())
    assert rec["exchange"] == "okx" and "payload" in rec
    # CSV snapshot: header + 13 columns
    csv_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(f"{work}/metrics_csv")
        for f in fs
        if f.endswith(".csv")
    ]
    assert csv_files
    header = open(csv_files[0]).readline().strip().split(",")
    assert header == [
        "generated_at_utc", "symbol", "channel",
        "lat_count", "lat_mean_ms", "lat_std_ms", "lat_min_ms", "lat_max_ms",
        "stale_count", "stale_mean_ms", "stale_std_ms", "stale_min_ms", "stale_max_ms",
    ]


def test_metrics_line_gate_and_format(spark, tmp_path):
    """A9: stats line renders only for keys with >= min_samples (gate
    at rolling.py:125), with the fixed-precision format."""
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import metrics_line

    stats = spark.createDataFrame(
        [
            ("BTC-USDT", "books5", 25, 300.0, 10.0, 280.0, 330.0, 299.5, 320.0, 328.0),
            ("ETH-USDT", "books5", 3, 1.0, 0.0, 1.0, 1.0, 1.0, 1.0, 1.0),
        ],
        "symbol STRING, channel STRING, lat_count LONG, lat_mean DOUBLE,"
        " lat_std DOUBLE, lat_min DOUBLE, lat_max DOUBLE, p50 DOUBLE,"
        " p95 DOUBLE, p99 DOUBLE",
    )
    lines = [r.line for r in metrics_line(stats, min_samples=20).collect()]
    assert len(lines) == 1  # ETH gated out
    assert lines[0] == (
        "BTC-USDT books5 | n=25 | Ex→Recv p50=299.5ms p95=320.0ms p99=328.0ms"
        " | mean=300.0 std=10.0 min=280.0 max=330.0"
    )


def test_sink_error_isolation(spark, replay_path, tmp_path):
    """K6: one failing sink must not take down its siblings
    (app.py:93-98 per-sink error swallowing -> per-query isolation)."""
    import pytest as _pytest

    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    raw = P.read_raw_stream(spark, mode="replay", path=replay_path, batch_size=10)
    events = normalize_frames(raw)

    def exploding_batch(df, epoch_id):
        raise RuntimeError("sink boom")

    bad = (
        events.writeStream.outputMode("append")
        .foreachBatch(exploding_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_bad"))
        .start()
    )
    good = (
        events.writeStream.outputMode("append")
        .format("memory")
        .queryName("iso_good")
        .option("checkpointLocation", str(tmp_path / "ckpt_good"))
        .start()
    )
    try:
        good.processAllAvailable()
        assert spark.sql("SELECT count(*) AS n FROM iso_good").first().n == 5
    finally:
        with _pytest.raises(Exception, match="sink boom|Terminated with exception"):
            bad.processAllAvailable()
            bad.stop()
            if bad.exception() is not None:
                raise bad.exception()
        good.stop()


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data policy (absent in the reference, SURVEY 2.6): an event
    arriving after the watermark passed its window is dropped from the
    aggregate in append mode."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file

    def frame(ts):
        return (
            '{"arg": {"channel": "trades", "instId": "BTC-USDT"},'
            f' "data": [{{"ts": "{ts}", "px": "1", "sz": "1", "side": "buy", "tradeId": "t{ts}"}}]}}'
        )

    # batch 1: events at t=1s and t=100s (advances watermark to 90s);
    # the file then GROWS with a late t=2s event - a separate microbatch
    # (the prefetching reader coalesces everything already available
    # into one batch, so the late row must arrive after the first
    # processAllAvailable)
    path = str(tmp_path / "late.jsonl")
    write_replay_file(path, [frame(1_000), frame(100_000)])
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
    agg = (
        normalize_frames(raw)
        .withColumn("event_time", F.timestamp_millis(F.col("ts_exchange_ms")))
        .withWatermark("event_time", "10 seconds")
        .groupBy(F.window("event_time", "5 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_replay_file(path, [frame(1_000), frame(100_000), frame(2_000)])
        q.processAllAvailable()
        rows = spark.sql("SELECT window.start, n FROM late_out").collect()
    finally:
        q.stop()
    emitted = {(r.start.second, r.n) for r in rows}
    # the 0-5s window closed with ONE event; the late t=2s arrival did
    # not reopen it or bump the count
    assert (0, 1) in emitted
    assert (0, 2) not in emitted


def test_streaming_session_window(spark, tmp_path):
    """session_window: native streaming sessionization (gap merge)."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file

    def frame(ts):
        return (
            '{"arg": {"channel": "trades", "instId": "BTC-USDT"},'
            f' "data": [{{"ts": "{ts}", "px": "1", "sz": "1", "side": "buy", "tradeId": "t{ts}"}}]}}'
        )

    # two bursts separated by > 5s gap -> two sessions
    path = str(tmp_path / "sess.jsonl")
    write_replay_file(
        path, [frame(1_000), frame(2_000), frame(3_000), frame(20_000), frame(21_000)]
    )
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
    agg = (
        normalize_frames(raw)
        .withColumn("event_time", F.timestamp_millis(F.col("ts_exchange_ms")))
        .withWatermark("event_time", "1 second")
        .groupBy("symbol", F.session_window("event_time", "5 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT n FROM sess_out ORDER BY n DESC").collect()
    finally:
        q.stop()
    assert [r.n for r in rows] == [3, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    """Trades join books of the same symbol within the age bound;
    out-of-window and cross-symbol books never match."""
    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file

    def book(sym, ts, bid, ask):
        return (
            f'{{"arg": {{"channel": "books5", "instId": "{sym}"}},'
            f' "data": [{{"ts": "{ts}", "bids": [["{bid}", "1", "0", "1"]],'
            f' "asks": [["{ask}", "1", "0", "1"]]}}]}}'
        )

    def trade(sym, ts, px):
        return (
            f'{{"arg": {{"channel": "trades", "instId": "{sym}"}},'
            f' "data": [{{"ts": "{ts}", "px": "{px}", "sz": "1", "side": "buy", "tradeId": "t{ts}"}}]}}'
        )

    frames = [
        book("BTC-USDT", 1_000, 10, 12),      # within 10s of the trade
        book("BTC-USDT", 50_000, 20, 22),     # too old? no - AFTER trade: excluded
        book("ETH-USDT", 4_000, 99, 101),     # other symbol: excluded
        trade("BTC-USDT", 5_000, 11.5),
    ]
    path = write_replay_file(str(tmp_path / "ss.jsonl"), frames)
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
    joined = P.stream_stream_enrich(normalize_frames(raw))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ss_out").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert r.symbol == "BTC-USDT" and r.best_bid == 10.0 and r.best_ask == 12.0
    assert r.px_vs_mid == pytest.approx(11.5 - 11.0)


def test_observed_counters(spark, tmp_path):
    """Operational counters (decode_errors / control_frames) observed
    per microbatch with no extra pass - the predecessor-design
    counters from the SURVEY archaeology. They outlive the idle
    progress reports a drained query keeps emitting."""
    import time

    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file
    from real_time_crypto_market_data_pipeline_spark.streaming.observability import (
        last_counters,
        observe_decode_health,
    )

    frames = [FRAMES[0], "garbage{{", "pong", FRAMES[2], FRAMES[1]]
    path = write_replay_file(str(tmp_path / "obs.jsonl"), frames)
    raw = observe_decode_health(
        P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
    )
    events = normalize_frames(raw)
    idle_conf = "spark.sql.streaming.noDataProgressEventInterval"
    prev = spark.conf.get(idle_conf, None)
    spark.conf.set(idle_conf, "100ms")  # read once, at query start
    try:
        q = (
            events.writeStream.outputMode("append")
            .format("memory")
            .queryName("obs_out")
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .start()
        )
    finally:
        if prev is None:
            spark.conf.unset(idle_conf)
        else:
            spark.conf.set(idle_conf, prev)
    try:
        q.processAllAvailable()
        deadline = time.monotonic() + 30
        while q.lastProgress["numInputRows"] > 0 and time.monotonic() < deadline:
            time.sleep(0.1)
        assert q.lastProgress["numInputRows"] == 0  # an idle progress is last
        counters = last_counters(q)
    finally:
        q.stop()
    assert counters is not None
    assert counters["batch_id"] == 0
    assert counters["frames_total"] == 5
    assert counters["decode_errors"] == 2  # garbage{{ and pong
    assert counters["control_frames"] == 1  # the subscribe frame


def test_normalize_reads_each_frame_once(spark, tmp_path):
    """A normalize query scans its source once: 3 replayed frames (a
    book, a trade, an undecodable one) are 3 input rows, not one per
    channel branch."""
    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file

    path = write_replay_file(str(tmp_path / "once.jsonl"), [FRAMES[0], FRAMES[3], "pong"])
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
    q = (
        normalize_frames(raw).writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_once"))
        .start()
    )
    try:
        q.processAllAvailable()
        read = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert read == [3]


def test_compaction_preserves_rows(spark, replay_path, tmp_path):
    """Compaction rewrites many small sink files into one per
    partition without losing or duplicating lines."""
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        compact_partitions,
    )

    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file

    # two microbatches (file grows between passes) -> two files per
    # touched partition, the small-file condition compaction fixes
    path = str(tmp_path / "grow.jsonl")
    write_replay_file(path, FRAMES[:2])
    work = str(tmp_path / "work")
    handles = P.start_pipeline(spark, path=path, out_dir=work)
    try:
        handles.process_all_available()
        write_replay_file(path, FRAMES)
        handles.process_all_available()
    finally:
        handles.stop()
    before = sorted(
        ln
        for r, _d, fs in os.walk(f"{work}/events")
        for f in fs
        if f.endswith(".txt")
        for ln in open(os.path.join(r, f)).read().splitlines()
    )
    n = compact_partitions(spark, f"{work}/events", f"{work}/compacted")
    assert n >= 1
    after = sorted(
        ln
        for r, _d, fs in os.walk(f"{work}/compacted")
        for f in fs
        if f.endswith(".txt")
        for ln in open(os.path.join(r, f)).read().splitlines()
    )
    # compacted dirs hold exactly one data file each
    for r, _d, fs in os.walk(f"{work}/compacted"):
        txts = [f for f in fs if f.endswith(".txt")]
        assert len(txts) <= 1
    # the output is a COMPLETE copy: every line survives exactly once,
    # including partitions that were already compact (copied through)
    assert after == before


def test_jsonl_sink_count_bounded_flush(spark, tmp_path):
    """K4: the 100-event flush bound (jsonl.py:114-125). One microbatch
    delivering 250 events for a single partition must roll across part
    files of <= 100 lines each, never one 250-line flush."""
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        start_jsonl_sink,
    )

    frames = [
        '{"arg": {"channel": "trades", "instId": "BTC-USDT"},'
        f' "data": [{{"ts": "{1000 + i}", "px": "5", "sz": "1",'
        f' "side": "buy", "tradeId": "t{i}"}}]}}'
        for i in range(250)
    ]
    path = write_replay_file(str(tmp_path / "many.jsonl"), frames)
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=1000)
    out = str(tmp_path / "data")
    q = start_jsonl_sink(
        normalize_frames(raw), out, str(tmp_path / "ckpt_cb"),
        max_events_per_file=100,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    part_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(out)
        for f in fs
        if f.endswith(".txt")
    ]
    counts = sorted(len(open(p).read().splitlines()) for p in part_files)
    assert sum(counts) == 250
    assert max(counts) <= 100  # count bound: writer rolled files
    assert len(counts) >= 3  # 250 events -> at least ceil(250/100) files


def test_exact_reference_file_layout(spark, tmp_path):
    """K3 exact layout: data/okx/{channel}/{date}/{SYMBOL}.jsonl with
    appends across microbatches (jsonl.py:20-29 parity)."""
    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        start_exact_layout_jsonl_sink,
    )

    path = str(tmp_path / "grow2.jsonl")
    write_replay_file(path, FRAMES[:2])
    raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
    out = str(tmp_path / "data")
    q = start_exact_layout_jsonl_sink(
        normalize_frames(raw), out, str(tmp_path / "ckpt_exact")
    )
    try:
        q.processAllAvailable()
        write_replay_file(path, FRAMES)  # second batch appends
        q.processAllAvailable()
    finally:
        q.stop()
    # replay clock stamps everything on 2025-01-01
    f = os.path.join(out, "okx", "books5", "2025-01-01", "BTC-USDT.jsonl")
    assert os.path.exists(f), os.popen(f"find {out}").read()
    recs = [json.loads(ln) for ln in open(f)]
    assert [r["ts_exchange_ms"] for r in recs] == [1000, 1600, 2600]
    assert all(r["channel"] == "books5" for r in recs)
    t = os.path.join(out, "okx", "trades", "2025-01-01", "ETH-USDT.jsonl")
    assert os.path.exists(t)


def test_exact_layout_epoch_replay_is_idempotent(spark, tmp_path):
    """A replayed foreachBatch epoch (crash after appends, before the
    checkpoint commit) must not duplicate lines; new epochs append."""
    from real_time_crypto_market_data_pipeline_spark.operators.normalize import jsonl_encode
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        exact_layout_batch_writer,
    )

    raw = spark.createDataFrame(
        [(f, 1735689600441, 1, 2) for f in FRAMES[:2]],
        "raw STRING, ts_recv_epoch_ms LONG, ts_recv_mono_ns LONG,"
        " ts_decoded_mono_ns LONG",
    )
    lines = jsonl_encode(normalize_frames(raw))
    out = str(tmp_path / "exact")
    write = exact_layout_batch_writer(out)

    def all_lines():
        return sorted(
            ln
            for r, _d, fs in os.walk(out)
            for f in fs
            if f.endswith(".jsonl")
            for ln in open(os.path.join(r, f)).read().splitlines()
        )

    write(lines, 0)
    first = all_lines()
    assert first
    write(lines, 0)  # replayed epoch: must be a no-op
    assert all_lines() == first
    write(lines, 1)  # new epoch: appends
    assert len(all_lines()) == 2 * len(first)


def test_streaming_rollup_sink_incremental_and_lossless(spark, tmp_path):
    """The continuous-aggregate sink: two microbatches of events merge
    additively into stored hour partials, and the day-grain read equals
    a from-scratch exact rollup of everything ingested."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from real_time_crypto_market_data_pipeline_spark.operators.metrics import (
        grouped_stats_exact,
    )
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        read_rollup,
        start_rollup_sink,
    )

    src_dir = str(tmp_path / "events_src")
    os.makedirs(src_dir)
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("ms", LongType()),
        ]
    )
    hour = 3_600_000
    batch1 = [("a", 1.25, 0 * hour), ("a", 2.75, 1 * hour), ("b", 10.0, 2 * hour)]
    batch2 = [("a", 4.00, 1 * hour + 60_000), ("b", 20.0, 30 * hour)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    target = str(tmp_path / "partials")
    q = start_rollup_sink(
        stream, target, str(tmp_path / "ckpt_rollup"),
        keys=["event_type"], value_col="value", ts_ms_col="ms",
        grain_ms=hour,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["event_type"], r["bucket"]): (
            r["val_count"], r["val_mean"], r["val_std"], r["val_min"], r["val_max"]
        )
        for r in read_rollup(
            spark, target, keys=["event_type"], coarse_factor=24
        ).collect()
    }
    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    want = {
        (r["event_type"], r["bucket"]): (
            r["val_count"], r["val_mean"], r["val_std"], r["val_min"], r["val_max"]
        )
        for r in grouped_stats_exact(
            all_rows.withColumn("bucket", F.expr("ms DIV 86400000")),
            ["event_type", "bucket"], "value", prefix="val_",
            scale=100, sum_dtype="long",
        ).collect()
    }
    assert got == want  # bit-identical: integer partials merge exactly
    # partials are stored per hour bucket (hypertable chunks)
    stored = spark.read.parquet(target)
    assert {r.bucket for r in stored.select("bucket").collect()} == {0, 1, 2, 30}


def test_streaming_rollup_family_matches_batch_queries_sf001(spark, tmp_path):
    """Streaming/batch parity on real data: replay the sf0.01 events
    table through the continuous-aggregate sink in three time-ordered
    chunks, then the partials read must equal the registered batch query
    q_rollup_merge row for row. Time-ordered chunking mirrors a live
    stream (each batch touches a contiguous bucket range) and shares
    boundary hours between chunks, so the existing-partition merge path
    executes."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.plans import QUERIES
    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        read_rollup,
        start_rollup_sink,
    )
    from real_time_crypto_market_data_pipeline_spark.tables import load_events

    sf = "/root/testdata/sf0.01"
    ev = load_events(spark, sf).select("event_type", "value", "ms")
    lo, hi = ev.agg(F.min("ms"), F.max("ms")).first()
    cuts = [lo, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi + 1]

    src = str(tmp_path / "replay")
    os.makedirs(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    roll_target = str(tmp_path / "roll_partials")
    q_roll = start_rollup_sink(
        stream, roll_target, str(tmp_path / "ckpt_roll"),
        keys=["event_type"], value_col="value", ts_ms_col="ms",
        grain_ms=3_600_000,
    )
    try:
        for a, b in zip(cuts, cuts[1:]):
            chunk = ev.where((F.col("ms") >= a) & (F.col("ms") < b))
            chunk.coalesce(1).write.mode("append").parquet(src)
            q_roll.processAllAvailable()
    finally:
        q_roll.stop()

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    got_roll = rows(read_rollup(spark, roll_target, ["event_type"], coarse_factor=24))
    want_roll = rows(QUERIES["q_rollup_merge"](spark, sf))
    assert got_roll == want_roll  # integer partials: bit-identical


def test_rollup_sink_checkpoint_reset_not_silently_dropped(spark, tmp_path):
    """A fresh checkpoint restarts epoch ids at 0; the epoch marker is
    bound to the checkpoint path it was written under, so batches from
    the new checkpoint must still merge (the old marker is ignored)
    instead of being skipped as replays."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        read_rollup,
        start_rollup_sink,
    )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("ms", LongType()),
        ]
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "partials")

    def run_stream(ckpt: str, rows: list) -> None:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = start_rollup_sink(
            spark.readStream.schema(schema).parquet(src),
            target, ckpt, keys=["event_type"], value_col="value",
            ts_ms_col="ms", grain_ms=3_600_000,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream(str(tmp_path / "ckpt_a"), [("a", 1.0, 0)])
    # second stream: NEW checkpoint reads the whole source dir from
    # scratch as epoch 0 - with the old marker honored it would be
    # dropped; with the checkpoint-bound marker it merges
    run_stream(str(tmp_path / "ckpt_b"), [("a", 3.0, 0)])

    [(n,)] = (
        read_rollup(spark, target, ["event_type"])
        .select("val_count")
        .collect()
    )
    # 1 row from stream A + 2 rows replayed-from-scratch by stream B
    # (the fresh checkpoint re-reads the first file: at-least-once
    # across checkpoint resets, but NOT silent loss)
    assert n == 3


def test_rollup_sink_legacy_single_line_marker_still_skips_replay(spark, tmp_path):
    """Markers written by the pre-checkpoint-binding format are a bare
    epoch number. They must keep their replay protection after the
    format upgrade: a replayed epoch (forced here by deleting the
    checkpoint's commit record, Spark's standard at-least-once
    restart) is skipped, not double-merged (ADVICE r4)."""
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from real_time_crypto_market_data_pipeline_spark.streaming.sinks import (
        read_rollup,
        start_rollup_sink,
    )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("ms", LongType()),
        ]
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    target = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")

    def run_stream() -> None:
        q = start_rollup_sink(
            spark.readStream.schema(schema).parquet(src),
            target, ckpt, keys=["event_type"], value_col="value",
            ts_ms_col="ms", grain_ms=3_600_000,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame([("a", 1.0, 0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_stream()

    # downgrade the marker to the legacy single-line format
    marker = os.path.join(target, "_last_epoch")
    with open(marker, encoding="utf-8") as f:
        epoch_line = f.read().split("\n", 1)[1]
    with open(marker, "w", encoding="utf-8") as f:
        f.write(epoch_line)

    # force an epoch-0 replay: remove the commit record (and its crc
    # sidecar, which otherwise blocks the rewrite) so the restarted
    # stream re-runs the batch (offsets are still present)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_stream()

    [(n,)] = (
        read_rollup(spark, target, ["event_type"]).select("val_count").collect()
    )
    assert n == 1  # replay skipped; without the legacy path it double-counts


def test_streaming_temperature_mix_matches_batch(spark, tmp_path):
    """Ingest-time temperature mixing: the batch census broadcasts
    into a stateless stream-static join, and the streamed kept set is
    EXACTLY the batch operator's kept set (both halves share code)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from real_time_crypto_market_data_pipeline_spark.operators.text import (
        apply_mix,
        mix_thresholds,
        temperature_mix,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    rows = [(i, f"document body number {i}", "big") for i in range(24)] + [
        (100 + i, f"rare document {i}", "small") for i in range(4)
    ]
    docs = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "docs")
    docs.coalesce(2).write.parquet(src)

    thresholds = mix_thresholds(docs)  # batch census over the corpus
    out = (
        apply_mix(spark.readStream.schema(schema).parquet(src), thresholds)
        .writeStream.format("memory")
        .queryName("mix_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        out.processAllAvailable()
    finally:
        out.stop()

    streamed = {
        r.doc_id for r in spark.sql("SELECT doc_id FROM mix_out").collect()
    }
    batch = {r.doc_id for r in temperature_mix(docs).collect()}
    assert streamed == batch
    assert {100, 101, 102, 103} <= streamed   # smallest source keeps all
    assert len(streamed) < 28                 # big source downsampled


def test_streaming_realized_vol_matches_batch_query(spark, tmp_path):
    """Replay sf0.01 events through streaming_realized_vol in three
    time-ordered chunks; the last emission per key must equal the
    batch q_realized_vol over the whole table (same n bit-identical,
    variance to float tolerance - the stream accumulates in the same
    (ms, event_id) order the batch window sorts by)."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.plans import QUERIES
    from real_time_crypto_market_data_pipeline_spark.streaming.stateful import (
        streaming_realized_vol,
    )
    from real_time_crypto_market_data_pipeline_spark.tables import load_events

    sf = "/root/testdata/sf0.01"
    ev = load_events(spark, sf).select("user_id", "ms", "event_id", "value")
    lo, hi = ev.agg(F.min("ms"), F.max("ms")).first()
    cuts = [lo, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi + 1]

    src = str(tmp_path / "replay")
    os.makedirs(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_realized_vol(stream)
        .writeStream.format("memory")
        .queryName("rvol_parity")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for a, b in zip(cuts, cuts[1:]):
            chunk = ev.where((F.col("ms") >= a) & (F.col("ms") < b))
            chunk.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    # memory sink in update mode appends every emission; keep the last
    # per key (cumulative state snapshots are monotone in n_returns)
    emitted = spark.sql(
        "SELECT user_id, n_returns, realized_var FROM rvol_parity"
    ).toPandas()
    last = emitted.sort_values("n_returns").groupby("user_id").tail(1)
    got = {int(r.user_id): (int(r.n_returns), float(r.realized_var))
           for r in last.itertuples()}

    want = {
        int(r["user_id"]): (int(r["n_returns"]), float(r["realized_var"]))
        for r in QUERIES["q_realized_vol"](spark, sf).collect()
    }
    assert set(got) == set(want)
    for k, (n_g, v_g) in got.items():
        n_w, v_w = want[k]
        assert n_g == n_w
        assert abs(v_g - v_w) <= 1e-9 * max(1.0, abs(v_w))


def test_streaming_realized_vol_repairs_within_batch_disorder(spark, tmp_path):
    """Pin the ordering contract the stateful docstrings promise: rows
    arriving OUT OF ORDER WITHIN a microbatch are repaired by the
    accumulator's in-batch (ms, event_id) sort, so batch parity holds
    as long as the chunks themselves are time-ordered. Replays the
    same three chunks as the ordered parity test but writes each
    chunk's rows md5-scrambled; realized_var must still match batch
    exactly (the cross-batch-late case is the documented divergence
    and is deliberately NOT exercised here)."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.plans import QUERIES
    from real_time_crypto_market_data_pipeline_spark.streaming.stateful import (
        streaming_realized_vol,
    )
    from real_time_crypto_market_data_pipeline_spark.tables import load_events

    sf = "/root/testdata/sf0.01"
    ev = load_events(spark, sf).select("user_id", "ms", "event_id", "value")
    lo, hi = ev.agg(F.min("ms"), F.max("ms")).first()
    cuts = [lo, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi + 1]

    src = str(tmp_path / "replay")
    os.makedirs(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_realized_vol(stream)
        .writeStream.format("memory")
        .queryName("rvol_disorder")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for a, b in zip(cuts, cuts[1:]):
            chunk = (
                ev.where((F.col("ms") >= a) & (F.col("ms") < b))
                # scramble row order inside the chunk: sort by a hash
                # that is independent of event time
                .orderBy(F.md5(F.col("event_id").cast("string")))
            )
            chunk.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql(
        "SELECT user_id, n_returns, realized_var FROM rvol_disorder"
    ).toPandas()
    last = emitted.sort_values("n_returns").groupby("user_id").tail(1)
    got = {int(r.user_id): (int(r.n_returns), float(r.realized_var))
           for r in last.itertuples()}

    want = {
        int(r["user_id"]): (int(r["n_returns"]), float(r["realized_var"]))
        for r in QUERIES["q_realized_vol"](spark, sf).collect()
    }
    assert set(got) == set(want)
    for k, (n_g, v_g) in got.items():
        n_w, v_w = want[k]
        assert n_g == n_w
        assert abs(v_g - v_w) <= 1e-9 * max(1.0, abs(v_w))


def test_streaming_realized_vol_cross_batch_disorder_diverges(spark, tmp_path):
    """The other half of the ordering contract: chunks replayed in
    REVERSED time order (late data across microbatches) must produce
    a realized_var that genuinely diverges from the batch query for
    at least one key - proving the documented caveat is a real
    failure mode, not doc hedging, and that the parity tests'
    time-ordered replay is load-bearing."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.plans import QUERIES
    from real_time_crypto_market_data_pipeline_spark.streaming.stateful import (
        streaming_realized_vol,
    )
    from real_time_crypto_market_data_pipeline_spark.tables import load_events

    sf = "/root/testdata/sf0.01"
    ev = load_events(spark, sf).select("user_id", "ms", "event_id", "value")
    lo, hi = ev.agg(F.min("ms"), F.max("ms")).first()
    cuts = [lo, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi + 1]

    src = str(tmp_path / "replay")
    os.makedirs(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_realized_vol(stream)
        .writeStream.format("memory")
        .queryName("rvol_late")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for a, b in reversed(list(zip(cuts, cuts[1:]))):  # newest chunk first
            chunk = ev.where((F.col("ms") >= a) & (F.col("ms") < b))
            chunk.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql(
        "SELECT user_id, n_returns, realized_var FROM rvol_late"
    ).toPandas()
    last = emitted.sort_values("n_returns").groupby("user_id").tail(1)
    got = {int(r.user_id): float(r.realized_var) for r in last.itertuples()}
    want = {
        int(r["user_id"]): float(r["realized_var"])
        for r in QUERIES["q_realized_vol"](spark, sf).collect()
    }
    assert set(got) == set(want)  # same keys either way
    diverged = sum(
        1 for k, v in got.items()
        if abs(v - want[k]) > 1e-6 * max(1.0, abs(want[k]))
    )
    assert diverged > 0


def test_streaming_realized_vol_state_survives_restart(spark, tmp_path):
    """Kill the realized-vol stream after the first chunk and restart
    a NEW query from the same checkpoint for the remaining chunks: the
    last emission per key must still equal batch q_realized_vol over
    everything - the applyInPandasWithState accumulator state is
    recovered from the checkpoint, not rebuilt from reprocessed input
    (the restart-resumption guarantee for the stateful family)."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.plans import QUERIES
    from real_time_crypto_market_data_pipeline_spark.streaming.stateful import (
        streaming_realized_vol,
    )
    from real_time_crypto_market_data_pipeline_spark.tables import load_events

    sf = "/root/testdata/sf0.01"
    ev = load_events(spark, sf).select("user_id", "ms", "event_id", "value")
    lo, hi = ev.agg(F.min("ms"), F.max("ms")).first()
    cuts = [lo, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi + 1]

    src = str(tmp_path / "replay")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    out_dir = str(tmp_path / "emitted")

    def start():
        # memory sink cannot recover from a checkpoint; foreachBatch
        # can, and appends every update-mode emission to parquet.
        # coalesce(1): one file per emission batch - the stateful
        # shuffle width otherwise appends hundreds of near-empty files
        # per batch, whose commit/list churn was the likely r20 flake.
        stream = spark.readStream.schema(ev.schema).parquet(src)
        return (
            streaming_realized_vol(stream)
            .writeStream.foreachBatch(
                lambda df, _eid: df.coalesce(1).write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def process_available(q, attempts=3):
        """processAllAvailable with restart-on-transient-failure: every
        retry resumes from the SAME checkpoint, i.e. it exercises the
        exact recovery path this test pins, so a retry cannot mask a
        state-loss bug - only an environment flake (the r20 driver run
        failed here with an opaque Py4JJavaError that never reproduced
        at the same HEAD). The final failure keeps the Java stack."""
        last = None
        for _ in range(attempts):
            try:
                q.processAllAvailable()
                return q
            except Exception as e:  # Py4JJavaError / StreamingQueryException
                last = e
                # visible in CI output: a recurring flake must not hide
                warnings.warn("restarting the stream from its checkpoint after: "
                              f"{getattr(e, 'java_exception', e)}", stacklevel=2)
                try:
                    q.stop()
                except Exception:
                    pass
                q = start()
        q.stop()
        raise AssertionError(
            "streaming restart kept failing after "
            f"{attempts} attempts: {getattr(last, 'java_exception', last)}"
        ) from last

    q = start()
    try:
        chunk = ev.where((F.col("ms") >= cuts[0]) & (F.col("ms") < cuts[1]))
        chunk.coalesce(1).write.mode("append").parquet(src)
        q = process_available(q)
    finally:
        q.stop()

    q = start()  # fresh query object, same checkpoint
    try:
        for a, b in zip(cuts[1:], cuts[2:]):
            chunk = ev.where((F.col("ms") >= a) & (F.col("ms") < b))
            chunk.coalesce(1).write.mode("append").parquet(src)
            q = process_available(q)
    finally:
        q.stop()

    emitted = spark.read.parquet(out_dir).toPandas()
    last = emitted.sort_values("n_returns").groupby("user_id").tail(1)
    got = {int(r.user_id): (int(r.n_returns), float(r.realized_var))
           for r in last.itertuples()}
    want = {
        int(r["user_id"]): (int(r["n_returns"]), float(r["realized_var"]))
        for r in QUERIES["q_realized_vol"](spark, sf).collect()
    }
    assert set(got) == set(want)
    for k, (n_g, v_g) in got.items():
        n_w, v_w = want[k]
        assert n_g == n_w
        assert abs(v_g - v_w) <= 1e-9 * max(1.0, abs(v_w))

