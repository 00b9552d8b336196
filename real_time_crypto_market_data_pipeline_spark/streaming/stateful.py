"""Stateful streaming operators (SURVEY 2.3 A6 in streaming form).

The reference keeps a ``dict[(symbol, channel) -> last_ts]`` and emits
``stale_ms = ts - last_ts`` per event (rolling.py:35,85-94). In
Structured Streaming that dict IS keyed state:
``applyInPandasWithState`` with one LONG of state per key.

Scale notes: state is 8 bytes per (symbol, channel) - thousands of
keys, trivially small. The grouped shuffle is the same hash exchange
the batch lag uses; state-store checkpointing gives restart-safety the
reference lacks. Negative staleness on reordered frames passes through
unclamped, matching rolling.py:88.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STALE_OUTPUT_DDL = ("symbol STRING, channel STRING, ts_exchange_ms LONG, stale_ms LONG")
_STATE_DDL = "last_ts LONG"


def _stale_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (symbol, channel) = key
    last_ts = state.get[0] if state.exists else None
    out_ts: list[int] = []
    out_stale: list[int] = []
    for pdf in pdfs:
        # arrival order within the batch: the source's receive stamp,
        # mirroring the reference's event-loop ordering (app.py:89-98)
        pdf = pdf.sort_values(["ts_recv_epoch_ms", "ts_exchange_ms"], kind="stable")
        for ts in pdf["ts_exchange_ms"]:
            ts = int(ts)
            if last_ts is not None:
                out_ts.append(ts)
                out_stale.append(ts - last_ts)  # may be negative; no clamp
            last_ts = ts
    state.update((last_ts,))
    if out_ts:
        yield pd.DataFrame(
            {
                "symbol": symbol,
                "channel": channel,
                "ts_exchange_ms": out_ts,
                "stale_ms": out_stale,
            }
        )


def _with_state(
    df, keys, fn, out_ddl, state_ddl, mode, timeout=GroupStateTimeout.NoTimeout
):
    """Shared ``applyInPandasWithState`` plumbing for every stateful
    twin: one hash exchange on the key, checkpointed state per key."""
    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode=mode,
        timeoutConf=timeout,
    )


def streaming_staleness(events: DataFrame) -> DataFrame:
    """A6 (streaming): per-(symbol, channel) consecutive-diff staleness.

    First event per key emits nothing (rolling.py:87); state survives
    across microbatches and restarts via the checkpointed state store.
    """
    cols = ["symbol", "channel", "ts_exchange_ms", "ts_recv_epoch_ms"]
    return _with_state(
        events.select(*cols), ["symbol", "channel"], _stale_fn,
        STALE_OUTPUT_DDL, _STATE_DDL, "append",
    )


# EWMA quote tracker and idle-gap flush on the GroupState API: one
# GroupState row per key.

EWMA_OUTPUT_DDL = (
    "symbol STRING, ts_exchange_ms LONG, mid DOUBLE, spread DOUBLE, "
    "ewma_mid DOUBLE, ewma_spread DOUBLE, rolling_mid DOUBLE, "
    "n LONG, spread_blowout BOOLEAN"
)
_EWMA_STATE_DDL = ("ewma_mid DOUBLE, ewma_spread DOUBLE, n LONG, tail ARRAY<DOUBLE>")


def make_ewma_fn(alpha: float, window: int, k: float, warmup: int):
    def _ewma_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        if state.exists:
            ewma_mid0, ewma_spread0, n0, tail = state.get
            tail = list(tail)
        else:
            ewma_mid0, ewma_spread0, n0, tail = 0.0, 0.0, 0, []
        batches = [p for p in pdfs if len(p)]
        if not batches:
            state.update((ewma_mid0, ewma_spread0, n0, tail))
            return
        pdf = (
            pd.concat(batches, ignore_index=True)
            if len(batches) > 1
            else batches[0]
        ).sort_values("ts_exchange_ms", kind="stable", ignore_index=True)

        mid = (pdf["best_bid"] + pdf["best_ask"]) / 2.0
        spread = pdf["best_ask"] - pdf["best_bid"]

        # Vectorized recurrence: y[t] = a*x[t] + (1-a)*y[t-1] IS pandas
        # ewm(alpha, adjust=False); carried state seeds the series as a
        # synthetic row 0 dropped after the scan - a 100x win over the
        # per-row loop, the whole point of the Arrow/pandas state API.
        def ewm_with_seed(x: pd.Series, seed: float, seeded: bool) -> pd.Series:
            if seeded:
                s = pd.concat([pd.Series([seed]), x], ignore_index=True)
                return s.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(
                    drop=True
                )
            return x.ewm(alpha=alpha, adjust=False).mean()

        ewma_mid = ewm_with_seed(mid, ewma_mid0, n0 > 0)
        ewma_spread = ewm_with_seed(spread, ewma_spread0, n0 > 0)
        n = n0 + pd.RangeIndex(1, len(pdf) + 1)
        # blowout judges each spread against the PREVAILING (pre-update)
        # EWMA spread, with n counted before the row
        prev_spread = ewma_spread.shift(1, fill_value=ewma_spread0 if n0 > 0 else 0.0)
        blowout = ((n - 1) >= warmup) & (prev_spread > 0) & (spread > k * prev_spread)
        # bounded rolling tail continues across the batch boundary
        seeded_mid = pd.concat(
            [pd.Series(tail, dtype="float64"), mid], ignore_index=True
        )
        rolling_mid = (
            seeded_mid.rolling(window, min_periods=1)
            .mean()
            .iloc[len(tail):]
            .reset_index(drop=True)
        )

        state.update(
            (
                float(ewma_mid.iloc[-1]),
                float(ewma_spread.iloc[-1]),
                int(n[-1]),
                [float(v) for v in seeded_mid.iloc[-window:]],
            )
        )
        yield pd.DataFrame(
            {
                "symbol": symbol,
                "ts_exchange_ms": pdf["ts_exchange_ms"].astype("int64"),
                "mid": mid,
                "spread": spread,
                "ewma_mid": ewma_mid,
                "ewma_spread": ewma_spread,
                "rolling_mid": rolling_mid,
                "n": pd.Series(n, dtype="int64"),
                "spread_blowout": blowout,
            }
        )

    return _ewma_fn


def streaming_quote_ewma(
    books: DataFrame,
    alpha: float = 0.2,
    window: int = 5,
    k: float = 3.0,
    warmup: int = 5,
) -> DataFrame:
    """Per-symbol online EWMA mid/spread + bounded rolling tail +
    spread-blowout flag over normalized book events.

    The reference recomputes rolling stats over a deque each tick
    (rolling.py:35,95-116); EWMA state is O(1) per key, keyed,
    checkpointed, and restart-safe. A spread more than ``k`` times the
    prevailing EWMA spread after ``warmup`` events is flagged online.
    """
    from pyspark.sql import functions as F

    if "best_bid" not in books.columns:
        books = books.where(F.col("book").isNotNull()).withColumns(
            {
                "best_bid": F.col("book.best_bid"),
                "best_ask": F.col("book.best_ask"),
            }
        )
    return _with_state(
        books.select("symbol", "ts_exchange_ms", "best_bid", "best_ask"),
        ["symbol"], make_ewma_fn(alpha, window, k, warmup),
        EWMA_OUTPUT_DDL, _EWMA_STATE_DDL, "append",
    )


IDLE_OUTPUT_DDL = (
    "symbol STRING, n_events LONG, first_ms LONG, last_ms LONG, "
    "flushed_at_ms LONG"
)
_IDLE_STATE_DDL = "n LONG, first_ms LONG, last_ms LONG"


def make_idle_fn(gap_ms: int):
    def _idle_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        if state.hasTimedOut:
            n, first_ms, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "symbol": [symbol],
                    "n_events": [n],
                    "first_ms": [first_ms],
                    "last_ms": [last_ms],
                    "flushed_at_ms": [last_ms + gap_ms],
                }
            )
            return
        if state.exists:
            n, first_ms, last_ms = state.get
        else:
            n, first_ms, last_ms = 0, None, None
        for pdf in pdfs:
            ts = pdf["ts_exchange_ms"]
            if len(ts) == 0:
                continue
            n += len(ts)
            lo, hi = int(ts.min()), int(ts.max())
            first_ms = lo if first_ms is None else min(first_ms, lo)
            last_ms = hi if last_ms is None else max(last_ms, hi)
        state.update((n, first_ms, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)

    return _idle_fn


def streaming_idle_flush(
    events: DataFrame, gap_ms: int = 5_000, watermark: str = "2 seconds"
) -> DataFrame:
    """Per-symbol idle-gap session flush via event-time timeout.

    Each batch re-arms the key's timeout at last_event + gap_ms; once
    the watermark passes it, the key times out, emits its session
    summary exactly once, and clears its state. The stateful analogue
    of session_window with full control over payload and lifecycle -
    the "symbol went quiet" signal the reference can only infer
    offline.
    """
    from pyspark.sql import functions as F

    keyed = events.select(
        "symbol",
        "ts_exchange_ms",
        F.timestamp_millis(F.col("ts_exchange_ms")).alias("event_time"),
    ).withWatermark("event_time", watermark)
    return _with_state(
        keyed, ["symbol"], make_idle_fn(gap_ms),
        IDLE_OUTPUT_DDL, _IDLE_STATE_DDL, "append",
        timeout=GroupStateTimeout.EventTimeTimeout,
    )


RVOL_OUTPUT_DDL = "user_id LONG, n_returns LONG, realized_var DOUBLE"
_RVOL_STATE_DDL = "last_price DOUBLE, n LONG, ssq DOUBLE"


def _rvol_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import math

    (user_id,) = key
    last, n, ssq = state.get if state.exists else (None, 0, 0.0)
    for pdf in pdfs:
        pdf = pdf.sort_values(["ms", "event_id"], kind="stable")
        for p in pdf["value"]:
            p = float(p)
            # mirror the batch lag exactly: every observation advances
            # the "previous" slot, but a return is only accumulated
            # when BOTH sides are positive (q_realized_vol's guard)
            if last is not None and last > 0 and p > 0:
                lr = math.log(p / last)
                ssq += lr * lr
                n += 1
            last = p
    state.update((last, n, ssq))
    yield pd.DataFrame({"user_id": [user_id], "n_returns": [n], "realized_var": [ssq]})


def streaming_realized_vol(events: DataFrame) -> DataFrame:
    """Streaming twin of q_realized_vol: cumulative realized variance.

    Per-key state is (last_price, n, sum of squared log returns) - 24 bytes
    regardless of stream length, the O(1)-state property that makes the
    estimator streamable at all (contrast a rolling percentile, which needs
    the window's values). Each microbatch emits the key's updated cumulative
    (n_returns, realized_var).

    Ordering caveat: the lag accumulator is ORDER-SENSITIVE. Rows are sorted
    by (ms, event_id) only WITHIN a microbatch, so batch parity (latest
    emission == q_realized_vol over everything ingested) holds for
    event-time-ordered arrival ACROSS microbatches - what the parity test
    replays. A late event is folded in as if newest and silently diverges from
    the batch window; with late-capable sources pre-sort the stream or treat
    emissions as approximate. Same shuffle as the batch window (one hash
    exchange on the key) plus checkpointed state for restarts.
    """
    cols = ["user_id", "ms", "event_id", "value"]
    return _with_state(
        events.select(*cols), ["user_id"], _rvol_fn,
        RVOL_OUTPUT_DDL, _RVOL_STATE_DDL, "update",
    )
