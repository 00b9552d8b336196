"""CLI surface tests (P1): arg validation parity with the reference
(app.py:150-196,203-211) and an end-to-end replay run through main()."""

from __future__ import annotations

import json
import os

import pytest

from real_time_crypto_market_data_pipeline_spark.app import main, parse_args, split_csv_arg


def test_defaults():
    a = parse_args(["--replay-path", "x"])
    assert a.symbol_list == ["BTC-USDT", "ETH-USDT"]
    assert a.channel_list == ["books5"]
    assert a.csv_export_interval == 30.0


def test_csv_split_strips_and_drops_empties():
    assert split_csv_arg(" a , ,b,", "--symbols") == ["a", "b"]


def test_empty_symbols_rejected():
    with pytest.raises(SystemExit):
        parse_args(["--symbols", " , ", "--replay-path", "x"])


def test_replay_requires_path():
    with pytest.raises(SystemExit):
        parse_args(["--mode", "replay"])


@pytest.fixture()
def stop_calls(monkeypatch):
    """``main`` ends by stopping its SparkSession, which is the test
    session here; record the call instead of stopping it."""
    from pyspark.sql import SparkSession

    calls = []
    monkeypatch.setattr(SparkSession, "stop", lambda self: calls.append(self))
    return calls


def test_main_replay_end_to_end(tmp_path, capsys, stop_calls):
    frames = [
        '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
        ' "data": [{"ts": "1000", "bids": [["10", "1", "0", "1"]], "asks": [["11", "1", "0", "1"]]}]}',
        '{"arg": {"channel": "books5", "instId": "BTC-USDT"},'
        ' "data": [{"ts": "2000", "bids": [["10", "2", "0", "1"]], "asks": [["11", "2", "0", "1"]]}]}',
        "{not json",
    ]
    replay = tmp_path / "frames.jsonl"
    replay.write_text("\n".join(frames) + "\n")
    out = tmp_path / "out"
    csv_dir = tmp_path / "metrics"
    rc = main(
        [
            "--mode", "replay",
            "--replay-path", str(replay),
            "--out-dir", str(out),
            "--csv-export", str(csv_dir),
            "--no-stdout",
        ]
    )
    assert rc == 0
    written = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(out / "events")
        for f in fs
        if f.endswith(".txt")
    ]
    assert written
    rec = json.loads(open(written[0]).readline())
    assert rec["symbol"] == "BTC-USDT"
    assert any(f.endswith(".csv") for _r, _d, fs in os.walk(csv_dir) for f in fs)
    # one decode-counter line per sink query on stderr
    counters = [json.loads(ln) for ln in capsys.readouterr().err.splitlines()
                if ln.startswith('{"sink"')]
    assert {c["sink"] for c in counters} == {"jsonl", "csv"}
    for c in counters:
        assert c["batch_id"] == 0
        assert c["frames_total"] == 3
        assert c["decode_errors"] == 1
        assert c["control_frames"] == 0
    assert len(stop_calls) == 1


def test_main_passes_url_to_source(tmp_path, monkeypatch, stop_calls):
    """--url reaches the source as its ``url`` option."""
    from pyspark.sql.streaming import DataStreamReader

    seen = []
    real_option = DataStreamReader.option

    def spy(self, key, value):
        seen.append((key, value))
        return real_option(self, key, value)

    monkeypatch.setattr(DataStreamReader, "option", spy)
    replay = tmp_path / "frames.jsonl"
    replay.write_text("pong\n")
    rc = main(
        [
            "--mode", "replay",
            "--replay-path", str(replay),
            "--url", "wss://example/ws",
            "--out-dir", str(tmp_path / "out"),
            "--no-stdout",
            "--no-jsonl",
        ]
    )
    assert rc == 0
    assert ("url", "wss://example/ws") in seen
    assert len(stop_calls) == 1
