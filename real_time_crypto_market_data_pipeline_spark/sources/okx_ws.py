"""Custom streaming DataSource for OKX market-data frames (SURVEY 2.1 S1-S4).

Spark 4 Python DataSource API re-expression of the reference's WebSocket
client (``src/okx_ws.py`` in yluoc/real-time-crypto-market-data-pipeline):

- S1 subscribe to the symbols x channels cross product (okx_ws.py:43-63)
- S2 reconnect with exponential backoff + jitter (okx_ws.py:96-103)
- S3 keepalive ping/timeout + bounded receive buffer (okx_ws.py:50-57)
- S4 receive-time stamping as the first act on arrival (okx_ws.py:67-69)

Two modes via the ``mode`` option:

- ``replay`` (default): deterministic file replay for tests/dev - one raw
  frame per line; offsets are line numbers, so restarts and
  ``readBetweenOffsets`` re-deliver exactly the same rows (the exactly-once
  story the reference lacks, SURVEY 2.6).
- ``live``: real WebSocket ingest. Needs the ``websockets`` package, which is
  not in this container - the reader raises a clear error at first use. The
  connect/subscribe/stamp/reconnect logic IS executed and asserted against a
  fake in-process transport (tests/test_live_source.py); only the physical
  socket is untested here.

Offset model: the feed itself is offset-less; we model offsets as a monotonic
frame counter per (single) partition. At scale, one source partition per
(symbol, channel) pair shards the subscription across executors - the cross
product is embarrassingly partitionable because OKX subscriptions are
independent.

JSON decode (S5) deliberately does NOT happen here: the source emits the raw
text plus stamps, and decode/normalize run as Catalyst expressions
(operators/normalize.py), keeping the Python boundary thin.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

RAW_STREAM_DDL = (
    "raw STRING, ts_recv_epoch_ms LONG, ts_recv_mono_ns LONG, ts_decoded_mono_ns LONG"
)

# Replay stamps are a deterministic fake clock so tests can assert on
# them: frame i -> recv_epoch_ms = base + i, recv_mono = i us, decode
# 12.345 us later (the reference's observed decode cost ballpark,
# README.md:179).
_REPLAY_BASE_EPOCH_MS = 1_735_689_600_000
_REPLAY_DECODE_NS = 12_345


def _stamp(i: int) -> tuple[int, int, int]:
    recv_ns = 1_000_000_000 + i * 1_000
    return (_REPLAY_BASE_EPOCH_MS + i, recv_ns, recv_ns + _REPLAY_DECODE_NS)


class OkxFrameSource(DataSource):
    """``spark.readStream.format("okx_frames")`` raw-frame source."""

    @classmethod
    def name(cls) -> str:
        return "okx_frames"

    def schema(self) -> str:
        return RAW_STREAM_DDL

    def simpleStreamReader(self, schema: StructType):
        mode = self.options.get("mode", "replay")
        if mode == "replay":
            return ReplayStreamReader(self.options)
        if mode == "live":
            return LiveOkxStreamReader(self.options)
        raise ValueError(f"unknown mode {mode!r}; use 'replay' or 'live'")


class ReplayStreamReader(SimpleDataSourceStreamReader):
    """Deterministic line-by-line replay of captured frames."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("replay mode requires option 'path'")
        self.batch_size = int(options.get("batchsize", "100"))

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        """Frames ``lo`` until ``hi`` (indexes of non-blank lines), stamped."""
        with open(self.path, encoding="utf-8") as f:
            lines = (ln.rstrip("\n") for ln in f if ln.strip())
            return [(ln, *_stamp(i))
                    for i, ln in enumerate(itertools.islice(lines, lo, hi), lo)]

    def read(self, start: dict):
        lo = start["line"]
        rows = self._rows(lo, lo + self.batch_size)
        return iter(rows), {"line": lo + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["line"], end["line"]))

    def commit(self, end: dict) -> None:
        pass


@dataclass
class BackoffPolicy:
    """S2: ``min(cap, base * 2^attempt) * (0.8 + 0.4 * frac(time))``.

    Same shape as okx_ws.py:96-103: exponential with a cap and +/-20%
    deterministic-ish jitter taken from the fractional clock.
    """

    base: float = 0.25
    cap: float = 30.0

    def delay(self, attempt: int, now: float | None = None) -> float:
        now = time.time() if now is None else now
        jitter = 0.8 + 0.4 * (now - int(now))
        return min(self.cap, self.base * (2**attempt)) * jitter


def subscribe_payload(symbols: list[str], channels: list[str]) -> str:
    """S1: one subscribe op for the symbols x channels cross product
    (okx_ws.py:43-45)."""
    args = [
        {"channel": ch, "instId": sym} for ch in channels for sym in symbols
    ]
    return json.dumps({"op": "subscribe", "args": args}, separators=(",", ":"))


class LiveOkxStreamReader(SimpleDataSourceStreamReader):
    """Live WebSocket ingest. Requires the ``websockets`` package.

    Connection parameters mirror the reference (okx_ws.py:50-57):
    ping every 20 s, ping timeout 10 s, open timeout 10 s, close
    timeout 5 s, bounded receive queue of 1024 frames (S3
    backpressure); ``maxframespertrigger`` caps each microbatch.
    """

    def __init__(self, options):
        self.url = options.get("url", "wss://ws.okx.com:8443/ws/v5/public")
        self.symbols = [
            s.strip() for s in options.get("symbols", "BTC-USDT,ETH-USDT").split(",") if s.strip()
        ]
        self.channels = [
            c.strip() for c in options.get("channels", "books5").split(",") if c.strip()
        ]
        self.max_per_trigger = int(options.get("maxframespertrigger", "1000"))
        self.backoff = BackoffPolicy()
        self._ws = None

    def initialOffset(self) -> dict:
        return {"frame": 0}

    def _ensure_connection(self):
        try:
            import websockets.sync.client as ws_client  # noqa: F401
        except ImportError as exc:  # pragma: no cover - lib absent in container
            raise NotImplementedError(
                "live mode needs the 'websockets' package (not installed in "
                "this environment); use mode=replay with captured frames"
            ) from exc
        attempt = 0
        while self._ws is None:  # pragma: no cover - network path
            try:
                # S3 keepalive/flow control, okx_ws.py:50-57 parity:
                # ping every 20 s, ping timeout 10 s, open 10 s,
                # close 5 s, bounded recv queue of 1024 frames
                self._ws = ws_client.connect(
                    self.url,
                    open_timeout=10,
                    close_timeout=5,
                    ping_interval=20,
                    ping_timeout=10,
                    max_queue=1024,
                )
                self._ws.send(subscribe_payload(self.symbols, self.channels))
                attempt = 0
            except OSError:
                time.sleep(self.backoff.delay(attempt))
                attempt += 1

    def read(self, start: dict):  # pragma: no cover - network path
        self._ensure_connection()
        rows = []
        for _ in range(self.max_per_trigger):
            try:
                frame = self._ws.recv(timeout=0.1)
            except TimeoutError:
                break
            except OSError:
                self._ws = None
                self._ensure_connection()
                continue
            # S4: stamp immediately on arrival (okx_ws.py:67-69)
            recv_epoch_ms = int(time.time() * 1000)
            recv_mono_ns = time.monotonic_ns()
            raw = frame if isinstance(frame, str) else frame.decode("utf-8", "replace")
            decoded_mono_ns = time.monotonic_ns()
            rows.append((raw, recv_epoch_ms, recv_mono_ns, decoded_mono_ns))
        n = start["frame"] + len(rows)
        return iter(rows), {"frame": n}

    def commit(self, end: dict) -> None:
        pass


def register(spark) -> None:
    """Register the source: ``spark.readStream.format('okx_frames')``."""
    spark.dataSource.register(OkxFrameSource)


def write_replay_file(path: str, frames: list[str]) -> str:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(frames) + "\n")
    return path
