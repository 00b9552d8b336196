"""Seeded OKX frame files for the ``stream_fanout`` workload.

The mix follows the shapes in FIXTURES.md A1-A3: ``books5`` snapshots and
multi-item ``trades`` over several symbols whose frequencies follow a Zipf
law, plus a fixed share of control frames (subscribe / unsubscribe / error),
shape violations that decode but normalize to nothing, and undecodable text
that ``observe_decode_health`` counts as ``decode_errors``.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

SYMBOLS = ("BTC-USDT", "ETH-USDT", "SOL-USDT", "XRP-USDT", "DOGE-USDT", "ADA-USDT")
# Zipf weights 1/rank: BTC is six times as frequent as ADA.
SYMBOL_WEIGHTS = tuple(1.0 / (r + 1) for r in range(len(SYMBOLS)))
BASE_PRICE = {"BTC-USDT": 92578.7, "ETH-USDT": 3205.85, "SOL-USDT": 187.4,
              "XRP-USDT": 2.31, "DOGE-USDT": 0.3185, "ADA-USDT": 0.9712}
BASE_TS_MS = 1_735_689_600_000

TRADE_SHARE = 0.35
CONTROL_SHARE = 0.02    # decodable, dropped by normalize (A3)
SHAPE_SHARE = 0.02      # decodable, dropped by normalize (A3)
MALFORMED_SHARE = 0.02  # undecodable: counted as decode_errors

MALFORMED = ("pong", "{not json", "garbage{{")


@dataclass(frozen=True)
class FrameFile:
    path: str
    n_frames: int
    n_malformed: int
    sha256: str


def _levels(rng: random.Random, mid: float, sign: int) -> list[list[str]]:
    tick = mid * 1e-5
    return [[f"{mid + sign * tick * (k + 1):.6g}", f"{rng.uniform(0.001, 5):.3f}",
             "0", str(rng.randint(1, 9))] for k in range(5)]


def _frame(rng: random.Random, i: int) -> tuple[str, bool]:
    """Frame ``i`` and whether it is undecodable."""
    u = rng.random()
    sym = rng.choices(SYMBOLS, SYMBOL_WEIGHTS)[0]
    ts = BASE_TS_MS + i * 7 + rng.randint(0, 5)
    if u < MALFORMED_SHARE:
        return rng.choice(MALFORMED), True
    u -= MALFORMED_SHARE
    if u < CONTROL_SHARE:
        event = rng.choice(("subscribe", "unsubscribe", "error"))
        msg = {"event": event, "arg": {"channel": "books5", "instId": sym}}
        return json.dumps(msg), False
    u -= CONTROL_SHARE
    if u < SHAPE_SHARE:
        bad = rng.choice((
            {"arg": {"instId": sym}, "data": [{"ts": str(ts)}]},
            {"arg": {"channel": "books5", "instId": sym}, "data": []},
            {"arg": {"channel": "books5"}, "data": [{"ts": str(ts)}]},
            {"arg": {"channel": "books5", "instId": sym},
             "data": [{"ts": "oops", "bids": [], "asks": []}]},
        ))
        return json.dumps(bad), False
    mid = BASE_PRICE[sym] * (1 + rng.uniform(-0.002, 0.002))
    if rng.random() < TRADE_SHARE / (1 - MALFORMED_SHARE - CONTROL_SHARE - SHAPE_SHARE):
        items = [{"ts": str(ts + k), "px": f"{mid:.6g}", "sz": f"{rng.uniform(0.0001, 3):.6f}",
                  "side": rng.choice(("buy", "sell")), "tradeId": str(10_000_000 + i * 8 + k)}
                 for k in range(rng.randint(1, 4))]
        return json.dumps({"arg": {"channel": "trades", "instId": sym}, "data": items}), False
    book = {"ts": str(ts), "bids": _levels(rng, mid, -1), "asks": _levels(rng, mid, 1)}
    return json.dumps({"arg": {"channel": "books5", "instId": sym}, "data": [book]}), False


def write_frames(path: str, n_frames: int, seed: int) -> FrameFile:
    """Write ``n_frames`` seeded frames, one per line, and fingerprint the file."""
    rng = random.Random(seed)
    lines, n_malformed = [], 0
    for i in range(n_frames):
        text, malformed = _frame(rng, i)
        lines.append(text)
        n_malformed += malformed
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return FrameFile(path, n_frames, n_malformed, hashlib.sha256(data).hexdigest())
