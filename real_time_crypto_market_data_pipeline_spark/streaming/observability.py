"""Operational counters via the observation API (SURVEY archaeology).

The reference's deleted predecessor tracked ``decode_errors``,
``dropped_queue_items``, ``ws_disconnects``, ``ws_reconnects``
(stale bytecode in src/__pycache__, SURVEY.md preamble) - evidence
that operational counters are part of the intended capability surface
even though the live code dropped them.

In Spark these are ``DataFrame.observe`` metrics: arbitrary aggregate
expressions evaluated per microbatch with NO extra pass over the data
(they piggyback on the existing plan), surfaced through
``StreamingQuery.lastProgress['observedMetrics']`` and the listener
bus. Connector-level counters (disconnects/reconnects) live in the
source; the engine-level ones are observed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.normalize import is_control, is_decodable, parse_frame

OBSERVATION_NAME = "pipeline_counters"


def observe_decode_health(raw: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Attach frame-level counters to the raw stream.

    frames_total / decode_errors (unparsable or non-object JSON) /
    control_frames - the reference's decode_errors counter
    (okx_ws.py:92-94 skip path) as an observed metric.
    """
    parsed = parse_frame(raw_col)
    decodable = is_decodable(parsed)
    return raw.observe(
        OBSERVATION_NAME,
        F.count(F.lit(1)).alias("frames_total"),
        F.sum(F.when(~decodable, 1).otherwise(0)).alias("decode_errors"),
        F.sum(F.when(decodable & is_control(parsed), 1).otherwise(0)).alias(
            "control_frames"
        ),
    )


def last_counters(query) -> dict | None:
    """Counters of the query's most recent microbatch that read input,
    with its ``batch_id``; None before the first such batch.

    A query with no new input still reports an idle progress every
    ``spark.sql.streaming.noDataProgressEventInterval`` (10 s) without
    observed metrics, so ``lastProgress`` alone loses the counters.
    """
    for progress in reversed(query.recentProgress):
        observed = progress.get("observedMetrics") or {}
        if OBSERVATION_NAME in observed:
            return {"batch_id": progress["batchId"],
                    **observed[OBSERVATION_NAME].asDict()}
    return None
