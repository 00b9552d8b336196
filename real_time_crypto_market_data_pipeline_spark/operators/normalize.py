"""OKX frame normalizer as declarative Spark operators (SURVEY 2.1-2.2).

Batch re-expression of the reference's row-at-a-time normalizer
(``src/normalizer.py`` in yluoc/real-time-crypto-market-data-pipeline).
The input is a DataFrame of raw frames:

    raw STRING                -- the JSON text of one WebSocket frame
    ts_recv_epoch_ms LONG     -- stamped on arrival  (okx_ws.py:67-69)
    ts_recv_mono_ns LONG
    ts_decoded_mono_ns LONG

and the output is the canonical normalized-event frame (FIXTURES.md A4):

    exchange, symbol, channel, event_type,
    ts_exchange_ms, ts_recv_epoch_ms, ts_recv_mono_ns,
    ts_decoded_mono_ns, ts_proc_mono_ns,
    book  STRUCT<n, best_bid, best_ask, bids ARRAY<STRUCT>, asks ARRAY<STRUCT>>,
    trade STRUCT<price, size, side, trade_id>

Drop-policy parity with the reference:
- control events subscribe/unsubscribe/error dropped  (normalizer.py:65-66)
- missing channel / instId, empty or non-list data dropped (normalizer.py:69-78)
- books5 with malformed ts: whole message dropped     (normalizer.py:87-91)
- trades item with malformed ts: item skipped         (normalizer.py:164-168)
- book level with <4 elements or unparsable price/size: level skipped
                                                       (normalizer.py:101-121)
- empty side: best bid/ask = 0.0                      (normalizer.py:124-125)
- invalid JSON / non-dict frames: dropped at decode   (okx_ws.py:74-80,92-94)

The reference's per-message function that switches on the channel
(normalizer.py:82-200) is one projection here: each decoded frame
builds the array of its complete events (one book, N trades, or none)
and ``inline`` turns the array into rows, so a query reads its source
once. The decodable and control predicates (``is_decodable``,
``is_control``) are shared with the decode-health counters
(streaming/observability.py).

Everything is built-in column expressions (``from_json``, ``filter``,
``transform``, ``try_cast``, ``inline``) - whole-stage codegen fuses
the entire normalize into the scan stage; no Python executes per row.
At 100 TB the frame stream is partitioned by (symbol, date) upstream,
and this operator is embarrassingly parallel (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Raw OKX frame schema (FIXTURES.md A1/A2). Levels arrive as arrays of
# strings [price, size, liquidated_count, order_count]; ts as string
# epoch-ms; trades carry px/sz/side/tradeId. One permissive schema
# covers both channels plus control frames.
RAW_FRAME_SCHEMA = (
    "event STRING, "
    "arg STRUCT<channel: STRING, instId: STRING>, "
    "data ARRAY<STRUCT<"
    "  ts: STRING,"
    "  bids: ARRAY<ARRAY<STRING>>,"
    "  asks: ARRAY<ARRAY<STRING>>,"
    "  px: STRING, sz: STRING, side: STRING, tradeId: STRING"
    ">>"
)

BOOK_STRUCT_DDL = (
    "STRUCT<n: INT, best_bid: DOUBLE, best_ask: DOUBLE, "
    "bids: ARRAY<STRUCT<price: DOUBLE, size: DOUBLE, count: INT>>, "
    "asks: ARRAY<STRUCT<price: DOUBLE, size: DOUBLE, count: INT>>>"
)

TRADE_STRUCT_DDL = "STRUCT<price: DOUBLE, size: DOUBLE, side: STRING, trade_id: STRING>"

NORMALIZED_EVENT_DDL = (
    "exchange STRING, symbol STRING, channel STRING, event_type STRING, "
    "ts_exchange_ms BIGINT, ts_recv_epoch_ms BIGINT, ts_recv_mono_ns BIGINT, "
    "ts_decoded_mono_ns BIGINT, ts_proc_mono_ns BIGINT, "
    f"book {BOOK_STRUCT_DDL}, trade {TRADE_STRUCT_DDL}"
)


def parse_frame(raw_col: str = "raw") -> Column:
    """S5: JSON decode with skip-on-error (okx_ws.py:72-94).

    ``from_json`` in PERMISSIVE mode nulls out unparsable input instead
    of failing the batch; ``is_decodable`` then tells the frames the
    reference would skip (okx_ws.py:92-94).
    """
    return F.from_json(F.col(raw_col), RAW_FRAME_SCHEMA)


def is_decodable(msg: Column) -> Column:
    """A frame counts as decoded iff it was a JSON object with at least
    one recognized key - ``from_json`` returns a struct of nulls for
    "pong", [1,2], or garbage bytes."""
    return msg.isNotNull() & (
        msg["event"].isNotNull() | msg["arg"].isNotNull() | msg["data"].isNotNull()
    )


def is_control(msg: Column) -> Column:
    """F1: subscribe/unsubscribe/error control messages (normalizer.py:65-66)."""
    return F.coalesce(msg["event"].isin("subscribe", "unsubscribe", "error"), F.lit(False))


def _parse_levels(levels: Column) -> Column:
    """F7: positional string-array levels -> typed structs, bad levels dropped.

    OKX level = [price_str, size_str, liquidated_count, order_count];
    indexes 0, 1, 3 are used (normalizer.py:97-121). Levels shorter
    than 4 or with unparsable numerics are skipped, not nulled.
    """
    parsed = F.transform(
        levels,
        lambda lv: F.struct(
            F.try_element_at(lv, F.lit(1)).try_cast("double").alias("price"),
            F.try_element_at(lv, F.lit(2)).try_cast("double").alias("size"),
            F.try_element_at(lv, F.lit(4)).try_cast("int").alias("count"),
            F.size(lv).alias("_len"),
        ),
    )
    cleaned = F.filter(
        parsed,
        lambda s: (s["_len"] >= 4)
        & s["price"].isNotNull()
        & s["size"].isNotNull()
        & s["count"].isNotNull(),
    )
    return F.transform(
        cleaned,
        lambda s: F.struct(
            s["price"].alias("price"), s["size"].alias("size"), s["count"].alias("count")
        ),
    )


def _event(msg: Column, channel: str, event_type: str, ts_ms: Column,
           book: Column, trade: Column) -> Column:
    """F9: one complete normalized event (FIXTURES.md A4) as a struct."""
    return F.struct(
        F.lit("okx").alias("exchange"),
        msg["arg"]["instId"].alias("symbol"),
        F.lit(channel).alias("channel"),
        F.lit(event_type).alias("event_type"),
        ts_ms.alias("ts_exchange_ms"),
        F.col("ts_recv_epoch_ms"), F.col("ts_recv_mono_ns"),
        F.col("ts_decoded_mono_ns"), F.col("ts_proc_mono_ns"),
        book.alias("book"),
        trade.alias("trade"),
    )


def _book_events(msg: Column) -> Column:
    """books5 (normalizer.py:82-159): one frame -> one book event, or none
    when its ts is malformed - F6 drops the whole message (normalizer.py:87-91)."""
    # F4 head-of-array: books5 carries exactly one item (normalizer.py:84)
    item = F.try_element_at(msg["data"], F.lit(1))
    ts_ms = item["ts"].try_cast("long")
    bids = _parse_levels(item["bids"])
    asks = _parse_levels(item["asks"])
    book = F.struct(
        F.lit(5).alias("n"),
        # F8 best bid/ask with 0.0 default (normalizer.py:124-125)
        F.coalesce(F.try_element_at(bids, F.lit(1))["price"], F.lit(0.0)).alias("best_bid"),
        F.coalesce(F.try_element_at(asks, F.lit(1))["price"], F.lit(0.0)).alias("best_ask"),
        bids.alias("bids"),
        asks.alias("asks"),
    )
    event = _event(msg, "books5", "book_topn", ts_ms, book,
                   F.lit(None).cast(TRADE_STRUCT_DDL))
    return F.when(ts_ms.isNotNull(), F.array(event))


def _trade_events(msg: Column) -> Column:
    """trades (normalizer.py:161-200): one frame -> one event per item; F6
    skips an item with a malformed ts, keeping its siblings
    (normalizer.py:164-168)."""
    events = F.transform(
        msg["data"],
        lambda item: _event(
            msg, "trades", "trade", item["ts"].try_cast("long"),
            F.lit(None).cast(BOOK_STRUCT_DDL),
            F.struct(
                item["px"].try_cast("double").alias("price"),
                item["sz"].try_cast("double").alias("size"),
                item["side"].alias("side"),
                item["tradeId"].alias("trade_id"),
            ),
        ),
    )
    return F.filter(
        events,
        lambda e: e["ts_exchange_ms"].isNotNull()
        & e["trade"]["price"].isNotNull()
        & e["trade"]["size"].isNotNull(),
    )


def normalize_frames(raw: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Full S5+F1-F9 pipeline: raw frame text -> normalized events.

    One pass: each surviving frame builds the array of its complete
    events - F3 dispatches on the channel, any other channel yields
    none - and ``inline`` (F5) turns the array into rows.

    ``ts_proc_mono_ns`` is stamped as the decode timestamp in batch
    (the reference stamps it at normalize time, normalizer.py:136,177;
    in a fused batch plan decode and normalize are the same stage, so
    the decoded stamp is the honest equivalent).
    """
    if "ts_proc_mono_ns" not in raw.columns:
        raw = raw.withColumn("ts_proc_mono_ns", F.col("ts_decoded_mono_ns"))
    m = F.col("_msg")
    channel = m["arg"]["channel"]
    # F2 shape guards (normalizer.py:69-78): a frame without channel or
    # data yields no event in either branch
    frames = raw.withColumn("_msg", parse_frame(raw_col)).where(
        is_decodable(m) & ~is_control(m) & m["arg"]["instId"].isNotNull()
    )
    events = F.when(channel == "books5", _book_events(m)).when(
        channel == "trades", _trade_events(m)
    )
    return frames.select(F.inline(events))


def derived_columns(events: DataFrame) -> DataFrame:
    """F10+F11: spread + per-stage latency derivations (stdout.py:16-21).

    lat_ex_recv_ms = ts_recv_epoch_ms - ts_exchange_ms;
    lat_recv_decode_ns / lat_decode_proc_ns are stage deltas on the
    monotonic stamps, with us display forms /1000 (rolling.py:52-54).
    """
    return events.withColumns(
        {
            "spread": F.col("book.best_ask") - F.col("book.best_bid"),
            "lat_ex_recv_ms": (
                F.col("ts_recv_epoch_ms") - F.col("ts_exchange_ms")
            ).cast("long"),
            "lat_recv_decode_ns": (
                F.col("ts_decoded_mono_ns") - F.col("ts_recv_mono_ns")
            ).cast("long"),
            "lat_decode_proc_ns": (
                F.col("ts_proc_mono_ns") - F.col("ts_decoded_mono_ns")
            ).cast("long"),
            "lat_recv_decode_us": (
                (F.col("ts_decoded_mono_ns") - F.col("ts_recv_mono_ns")) / 1000.0
            ),
            "lat_decode_proc_us": (
                (F.col("ts_proc_mono_ns") - F.col("ts_decoded_mono_ns")) / 1000.0
            ),
        }
    )


def date_partition_col(epoch_ms_col: str = "ts_recv_epoch_ms") -> Column:
    """F13: epoch-ms -> UTC 'yyyy-MM-dd' partition string (jsonl.py:22,27)."""
    return F.date_format(F.timestamp_millis(F.col(epoch_ms_col)), "yyyy-MM-dd")


def jsonl_encode(events: DataFrame) -> DataFrame:
    """F14: normalized event -> compact JSONL row (jsonl.py:32-70).

    Book levels are re-flattened to positional [price, size, count]
    arrays (jsonl.py:53-60); trade payloads keep their field names.
    Output adds the partition path columns (jsonl.py:20-29).
    """
    flat_levels = lambda side: F.transform(  # noqa: E731
        F.col(f"book.{side}"),
        lambda s: F.array(s["price"], s["size"], s["count"].cast("double")),
    )
    # to_json needs a homogeneous array element type, so count rides as
    # DOUBLE and would render "2.0" where the reference's json.dumps
    # writes the int "2" (jsonl.py:53-60). The count is always the
    # third element, directly before "]", so stripping ",N.0]" -> ",N]"
    # restores byte parity; price/size never touch "]".
    book_json = F.regexp_replace(
        F.to_json(
            F.struct(
                F.col("book.n").alias("n"),
                F.col("book.best_bid").alias("best_bid"),
                F.col("book.best_ask").alias("best_ask"),
                flat_levels("bids").alias("bids"),
                flat_levels("asks").alias("asks"),
            )
        ),
        ",([0-9]+)\\.0\\]",
        ",$1]",
    )
    payload = F.when(
        F.col("event_type") == "book_topn", book_json
    ).otherwise(F.to_json(F.col("trade")))
    head = F.to_json(
        F.struct(
            "exchange",
            "symbol",
            "channel",
            "event_type",
            "ts_exchange_ms",
            "ts_recv_epoch_ms",
            "ts_recv_mono_ns",
            "ts_decoded_mono_ns",
            "ts_proc_mono_ns",
        )
    )
    line = F.concat(
        F.regexp_replace(head, "\\}$", ""),
        F.lit(',"payload":'),
        payload,
        F.lit("}"),
    )
    return events.select(
        F.col("exchange"), F.col("channel"),
        date_partition_col().alias("dt"),
        F.col("symbol"), line.alias("jsonl"),
    )


def render_stdout_line(events: DataFrame) -> DataFrame:
    """F15: the reference's fixed-format console line (stdout.py:13-32).

    Book:  'SYMBOL | bid=%.2f ask=%.2f spread=%.2f | Ex->Recv=%dms
            Recv->Decode=%.3fus Decode->Proc=%.3fus'
    Trade: 'SYMBOL | TRADE side px=%.2f sz=%.6f | Ex->Recv=%dms'
    """
    d = derived_columns(events)
    book_line = F.format_string(
        "%s | bid=%.2f ask=%.2f spread=%.2f | Ex→Recv=%dms Recv→Decode=%.3fus Decode→Proc=%.3fus",
        F.col("symbol"), F.col("book.best_bid"), F.col("book.best_ask"),
        F.col("spread"), F.col("lat_ex_recv_ms"),
        F.col("lat_recv_decode_us"), F.col("lat_decode_proc_us"),
    )
    trade_line = F.format_string(
        "%s | TRADE %s px=%.2f sz=%.6f | Ex→Recv=%dms",
        F.col("symbol"), F.col("trade.side"), F.col("trade.price"),
        F.col("trade.size"), F.col("lat_ex_recv_ms"),
    )
    return d.select(
        "symbol",
        "channel",
        "event_type",
        F.when(F.col("event_type") == "book_topn", book_line)
        .otherwise(trade_line)
        .alias("line"),
    )


def monotonicity_violations(events: DataFrame) -> DataFrame:
    """S6/F12: count clock-monotonicity violations instead of asserting.

    The reference raises under ``_DEBUG`` (okx_ws.py:85-88,
    normalizer.py:138-146,179-187); at scale the production form is a
    violation-count aggregate the operator dashboard alerts on.
    """
    return events.agg(
        F.sum(
            F.when(F.col("ts_decoded_mono_ns") < F.col("ts_recv_mono_ns"), 1).otherwise(0)
        )
        .cast("long")
        .alias("decode_before_recv"),
        F.sum(
            F.when(F.col("ts_proc_mono_ns") < F.col("ts_decoded_mono_ns"), 1).otherwise(0)
        )
        .cast("long")
        .alias("proc_before_decode"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
