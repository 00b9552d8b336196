"""Streaming sinks (SURVEY 2.4 K1-K7).

The reference's sink surface re-expressed on DataStreamWriter:

- K2 stdout sink        -> ``format('console')`` over the F15 render
- K3 partitioned JSONL  -> text writer + ``partitionBy`` (Hive-style
                           layout exchange=okx/channel=../dt=../symbol=..,
                           the scalable analog of jsonl.py:20-29)
- K4 buffered flush     -> the microbatch trigger IS the flush; the
                           reference's 100-event count trigger has no
                           Spark analog (documented semantic delta)
- K5 CSV metrics export -> ``foreachBatch`` overwrite on its own
                           trigger cadence (rolling.py:147-212)
- K6 multi-sink fan-out -> one source, N checkpointed queries; a
                           failing query doesn't kill its siblings
- K7 graceful shutdown  -> ``stop_all`` (query.stop flushes the
                           in-flight microbatch; app.py:122-147)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.normalize import jsonl_encode, render_stdout_line
from ..session import pin, query_scope

CSV_COLUMNS = [
    "generated_at_utc", "symbol", "channel",
    "lat_count", "lat_mean_ms", "lat_std_ms", "lat_min_ms", "lat_max_ms",
    "stale_count", "stale_mean_ms", "stale_std_ms", "stale_min_ms",
    "stale_max_ms",
]


def _foreach_batch_query(df: DataFrame, write_batch, checkpoint: str,
                         trigger_seconds: float) -> StreamingQuery:
    """Start ``write_batch`` as a checkpointed foreachBatch append query."""
    return (df.writeStream.outputMode("append").foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_seconds} seconds").start())


def start_console_sink(
    events: DataFrame, checkpoint: str, trigger_seconds: float = 1.0
) -> StreamingQuery:
    """K2: formatted one-liner per event (stdout.py:9-36)."""
    return (
        render_stdout_line(events)
        .select("line")
        .writeStream.outputMode("append")
        .format("console")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def start_jsonl_sink(
    events: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger_seconds: float = 1.0,
    max_events_per_file: int | None = 100,
) -> StreamingQuery:
    """K3/K4: append compact-JSON lines partitioned by (exchange, channel, dt,
    symbol).

    The text writer emits exactly the encoded line per row; partition pruning
    on dt/symbol makes downstream replay reads cheap. The reference flushes
    its per-file buffer at 100 buffered events OR 1 s (jsonl.py:114-125); here
    the trigger interval is the time bound and ``maxRecordsPerFile`` is the
    count bound - the writer rolls to a new part file after
    ``max_events_per_file`` records, so no flushed file holds more events than
    a reference flush would. Unlike a foreachBatch splitter this keeps the
    parallel, exactly-once file sink, and the bound is enforced inside
    FileFormatWriter with zero extra shuffle or sort.
    """
    lines = jsonl_encode(events).withColumnRenamed("jsonl", "value")
    writer = (
        lines.writeStream.outputMode("append")
        .format("text")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy("exchange", "channel", "dt", "symbol")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if max_events_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_events_per_file))
    return writer.start()


def snapshot_to_csv_rows(snapshot: DataFrame, generated_at_utc: str) -> DataFrame:
    """K5: 13-column CSV schema with %.3f float rendering at the edge
    (rolling.py:156-170,203-211), rows sorted by (symbol, channel)."""
    fmt = lambda c, a: F.format_string("%.3f", F.col(c)).alias(a)  # noqa: E731
    return snapshot.select(
        F.lit(generated_at_utc).alias("generated_at_utc"),
        F.col("symbol"), F.col("channel"), F.col("lat_count"),
        fmt("lat_mean", "lat_mean_ms"), fmt("lat_std", "lat_std_ms"),
        fmt("lat_min", "lat_min_ms"), fmt("lat_max", "lat_max_ms"),
        F.col("stale_count"),
        fmt("stale_mean", "stale_mean_ms"), fmt("stale_std", "stale_std_ms"),
        fmt("stale_min", "stale_min_ms"), fmt("stale_max", "stale_max_ms"),
    ).orderBy("symbol", "channel")


def start_csv_snapshot_sink(
    events: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger_seconds: float = 30.0,
) -> StreamingQuery:
    """K5: whole-file overwrite of current per-key stats each trigger.

    ``foreachBatch`` recomputes the snapshot over the microbatch and
    overwrites - the streaming analog of export_csv's full rewrite
    (rolling.py:154). Default 30 s cadence (app.py:174-179).
    """
    from datetime import datetime, timezone

    from ..operators.metrics import snapshot as batch_snapshot

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        lat_src = batch_df.withColumn(
            "lat_ms",
            (F.col("ts_recv_epoch_ms") - F.col("ts_exchange_ms")).cast("double"),
        )
        # lat_ms = now - replayed exchange ts is unbounded (it grows
        # with wall-clock time in replay mode), so its squares overflow
        # a long sum; decimal accumulators, and the values are whole ms
        # already so no cents quantization.
        snap = batch_snapshot(
            lat_src,
            keys=["symbol", "channel"],
            value_col="lat_ms",
            ts_ms_col="ts_exchange_ms",
            tiebreak_col="ts_recv_mono_ns",
            value_scale=1,
            value_sum_dtype="decimal(38,0)",
        )
        now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        (
            snapshot_to_csv_rows(snap, now)
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(out_dir)
        )

    return _foreach_batch_query(events, write_batch, checkpoint, trigger_seconds)


def stop_all(queries: list[StreamingQuery]) -> None:
    """K7: graceful shutdown - stop() flushes the in-flight microbatch;
    per-query isolation means one failure doesn't abort the rest
    (app.py:93-98 error isolation)."""
    errors = []
    for q in queries:
        try:
            q.stop()
        except Exception as exc:  # noqa: BLE001 - per-sink isolation
            errors.append(exc)
    for q in queries:
        try:
            q.awaitTermination(30)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
    if errors:
        raise RuntimeError(f"{len(errors)} sink(s) failed during shutdown: {errors}")


def metrics_line(stats: DataFrame, min_samples: int = 20) -> DataFrame:
    """A9/A2 render: the reference's one-line stats print
    (rolling.py:121-145) over the windowed-stats stream.

    Applies the >= min_samples gate (rolling.py:125) and renders the
    fixed-precision line; one row per (symbol, channel, window).
    """
    gated = stats.where(F.col("lat_count") >= min_samples)
    return gated.select(
        F.format_string(
            "%s %s | n=%d | Ex→Recv p50=%.1fms p95=%.1fms p99=%.1fms | "
            "mean=%.1f std=%.1f min=%.1f max=%.1f",
            F.col("symbol"), F.col("channel"), F.col("lat_count"),
            F.col("p50"), F.col("p95"), F.col("p99"),
            F.col("lat_mean"), F.col("lat_std"),
            F.col("lat_min"), F.col("lat_max"),
        ).alias("line")
    )


# (The reference's 1 s stats print loop, app.py:63-66, is metrics_line
# over windowed_latency_stats on a 1 s-trigger console writer; the
# pre-wired helper was dropped in r6 - both components stay tested.)


def compact_partitions(
    spark, data_dir: str, out_dir: str, target_files_per_partition: int = 1
) -> int:
    """Small-file compaction for the streaming JSONL sink output.

    A 1 s trigger writes one file per partition per microbatch - the
    classic small-file problem at scale (a day of 1 s triggers is
    86k files per partition). This batch job rewrites the partitioned
    text data with ``coalesce`` per partition directory, preserving
    the Hive layout. Run it on closed dt partitions (yesterday and
    older); returns the number of partition directories compacted.

    ``out_dir`` receives a COMPLETE copy of the dataset: fragmented
    partition directories are rewritten through ``coalesce``, and
    already-compact ones are copied through unchanged - so readers
    (or an atomic swap of ``out_dir`` over ``data_dir``) see every
    partition, not just the rewritten ones. Returns the number of
    partition directories that were actually rewritten.

    At 100 TB this is the nightly compaction stage every streaming
    lakehouse runs; with Delta/Iceberg it becomes OPTIMIZE.
    """
    import os
    import shutil

    compacted = 0
    for root, _dirs, files in os.walk(data_dir):
        # r13: also compacts the parquet dedup indexes ({index}/kept
        # bkt= dirs grow one file per incremental append)
        data = [f for f in files if f.endswith(".txt")]
        fmt = "text"
        if not data:
            data = [f for f in files if f.endswith(".parquet")]
            fmt = "parquet"
        if not data:
            continue
        rel = os.path.relpath(root, data_dir)
        dest = os.path.join(out_dir, rel)
        if len(data) > target_files_per_partition:
            (
                spark.read.format(fmt).load(root)
                .coalesce(target_files_per_partition)
                .write.mode("overwrite").format(fmt)
                .save(dest)
            )
            compacted += 1
        else:
            os.makedirs(dest, exist_ok=True)
            for name in data:
                shutil.copy2(os.path.join(root, name), os.path.join(dest, name))
    return compacted


def _epoch_applied(marker: str, checkpoint: str | None, epoch_id: int) -> bool:
    """True iff the ``_last_epoch`` marker says this epoch already landed.
    Epoch ids restart at 0 under a fresh checkpoint: a marker bound to
    another checkpoint is ignored. A bare-epoch marker (the exact-layout
    sink's, ``checkpoint=None``, and the rollup's legacy format) counts as
    the current checkpoint's, keeping its replay protection."""
    try:
        with open(marker, encoding="utf-8") as f:
            stored_ckpt, _, stored_epoch = f.read().rpartition("\n")
        return (stored_ckpt or checkpoint) == checkpoint and epoch_id <= int(stored_epoch)
    except (FileNotFoundError, ValueError):
        return False


def _commit_epoch(marker: str, checkpoint: str | None, epoch_id: int) -> None:
    """Record ``epoch_id`` as applied (bare when ``checkpoint`` is None) via
    a temp file renamed over the marker: a crash leaves the old or the new."""
    import os

    os.makedirs(os.path.dirname(marker), exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(epoch_id) if checkpoint is None else f"{checkpoint}\n{epoch_id}")
    os.replace(tmp, marker)


def exact_layout_batch_writer(out_dir: str):
    """The foreachBatch body of :func:`start_exact_layout_jsonl_sink`,
    exposed for direct testing of its epoch-replay idempotence.

    Skips any epoch at or below the ``_last_epoch`` marker (written
    atomically via rename only after every append for that epoch
    landed), so a replayed microbatch does not duplicate lines.

    Driver-side append: each microbatch is collect()ed so a single
    writer can reproduce the reference's one-file-per-partition layout
    byte-for-byte (jsonl.py:20-29). This is the FIDELITY sink, not the
    scale path — use :func:`start_jsonl_sink` (Hive layout, parallel
    executor writes, exactly-once) for production volumes.
    """
    import os

    marker = os.path.join(out_dir, "_last_epoch")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_applied(marker, None, epoch_id):
            return  # already fully appended; replayed epoch
        by_path: dict[str, list[str]] = {}
        for r in batch_df.collect():
            path = os.path.join(
                out_dir, r.exchange, r.channel, r.dt, f"{r.symbol}.jsonl"
            )
            by_path.setdefault(path, []).append(r.jsonl)
        for path, batch_lines in by_path.items():
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "a", encoding="utf-8") as f:
                f.write("\n".join(batch_lines) + "\n")
        _commit_epoch(marker, None, epoch_id)

    return write_batch


def start_exact_layout_jsonl_sink(
    events: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger_seconds: float = 1.0,
) -> StreamingQuery:
    """K3 exact-fidelity variant: the reference's literal file layout.

    ``data/{exchange}/{channel}/{YYYY-MM-DD}/{SYMBOL}.jsonl`` with
    lines appended across batches (jsonl.py:20-29,140-155) - one file
    per (channel, date, symbol), exactly as the reference writes it.

    foreachBatch collects each microbatch's lines grouped by path and
    appends driver-side - the reference's single-process sink 1:1, the
    right tool for compatibility replays; at scale use
    ``start_jsonl_sink`` (Hive layout, executor-parallel, same content).

    Replay idempotence: foreachBatch re-delivers the last epoch after
    a restart whose appends ran but whose checkpoint commit did not. A
    ``_last_epoch`` marker in ``out_dir`` (written atomically via
    rename AFTER the appends) lets the sink skip any epoch it has
    already fully appended, so the common crash-replay path no longer
    duplicates lines. A crash BETWEEN the final append and the marker
    rename still replays that epoch (at-least-once, the same guarantee
    the reference's appends give) - true exactly-once needs the
    Hive-layout file sink, whose per-epoch files commit atomically.
    """
    return _foreach_batch_query(jsonl_encode(events), exact_layout_batch_writer(out_dir),
                                checkpoint, trigger_seconds)


def rollup_merge_batch(
    spark,
    batch_partials: DataFrame,
    target_dir: str,
    keys: list[str],
) -> None:
    """Additively merge one batch of mergeable partials into the stored
    partials table, rewriting only the touched time-bucket partitions.

    The incremental half of the continuous-aggregate story
    (operators/metrics.rollup_partials): the target lives as parquet
    partitioned by the time ``bucket`` - the hypertable chunk layout - and a
    streaming microbatch merges by adding the integer partials and folding
    min/max, so the stored state stays exactly equal to a from-scratch rollup
    of everything ingested. A stream arrives roughly time-ordered, so each
    batch touches one or two hour partitions; work per batch is O(touched
    buckets), never O(history).
    """
    import os

    affected = [
        r.bucket for r in batch_partials.select("bucket").distinct().collect()
    ]
    if not affected:
        return
    existing = [
        f"{target_dir}/bucket={b}"
        for b in affected
        if os.path.isdir(f"{target_dir}/bucket={b}")
    ]
    merged = batch_partials
    if existing:
        current = (
            spark.read.option("basePath", target_dir)
            .parquet(*existing)
            # partition-dir inference narrows bucket to int; realign
            .withColumn("bucket", F.col("bucket").cast("long"))
            .select(*batch_partials.columns)
        )
        merged = (
            current.unionByName(batch_partials)
            .groupBy(*keys, "bucket")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("s").alias("s"),
                F.sum("ss").alias("ss"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )
    # the write overwrites partitions the plan also reads; cut lineage
    merged = pin(merged, "checkpoint")
    (
        merged.repartition("bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(target_dir)
    )


def start_rollup_sink(
    events: DataFrame,
    target_dir: str,
    checkpoint: str,
    keys: list[str],
    value_col: str,
    ts_ms_col: str,
    grain_ms: int = 3_600_000,
    scale: int = 100,
    trigger_seconds: float = 1.0,
) -> StreamingQuery:
    """Streaming continuous aggregate: foreachBatch additive rollup merge.

    Each microbatch is reduced to (keys, bucket) integer partials and merged
    into the stored partials table; coarse reports read the partials via
    ``read_rollup`` without ever rescanning raw events.

    Additive merge is not naturally idempotent, so replayed epochs are skipped
    via a checkpoint-bound ``_last_epoch`` marker renamed into place only
    after the merge landed (``_epoch_applied``; on Delta/Iceberg the marker
    becomes the transaction log).

    OPERATIONAL CONTRACT: a checkpoint reset makes the fresh stream replay its
    source from the beginning, and this sink will merge everything it replays
    into whatever partials already exist - resetting ONLY the checkpoint
    double-counts history into the stored aggregates. Pair every checkpoint
    reset with clearing (or re-deriving) the partials dir.
    """
    import os

    from ..operators.metrics import rollup_partials

    marker = os.path.join(target_dir, "_last_epoch")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_applied(marker, checkpoint, epoch_id):
            return
        with query_scope():
            bp = rollup_partials(batch_df, keys, value_col, ts_ms_col, grain_ms, scale=scale)
            rollup_merge_batch(batch_df.sparkSession, bp, target_dir, keys)
        _commit_epoch(marker, checkpoint, epoch_id)

    return _foreach_batch_query(events, apply, checkpoint, trigger_seconds)


def read_rollup(
    spark,
    target_dir: str,
    keys: list[str],
    coarse_factor: int = 1,
    scale: int = 100,
) -> DataFrame:
    """Answer a coarse-grain report from the stored streaming partials."""
    from ..operators.metrics import merge_rollup

    partials = spark.read.parquet(target_dir).withColumn(
        "bucket", F.col("bucket").cast("long")
    )
    return merge_rollup(partials, keys, coarse_factor, scale=scale)


def lsh_dedup_batch_writer(index_dir: str, admitted_dir: str, checkpoint: str,
                           text_col: str = "text",
                           compact_files_per_bucket: int | None = 8,
                           compact_buckets_per_firing: int = 128,
                           compact_bytes_per_firing: int | None = 256 << 20):
    """The foreachBatch body of :func:`start_lsh_dedup_sink`, exposed for
    direct testing of its crash/replay discipline (the exact-layout JSONL
    sink precedent).

    Replay contract (X2 streaming twin, r16): the INDEX is the state a
    replayed microbatch would corrupt, so the checkpoint-bound
    ``_last_epoch`` marker lives beside it and an epoch at or below the
    marker skips the probe - no double-advance (the rollup-sink
    discipline). The per-epoch admitted output is then derived from
    ``lsh_index_member`` - batch ids resident in the advanced index - NOT
    from the probe's return value: a crash between index append and
    marker write makes the replayed probe re-see its own survivors (each
    self-matches at Jaccard 1.0), which a naive write would persist as a
    silently EMPTY epoch. Membership is identical before and after the
    marker lands, so the ``epoch=N`` overwrite is deterministic at any
    crash point. A fresh epoch hands the probe's materialized LSH rows to
    the membership scan (r17): one batch LSH pass per epoch, not two -
    only torn-epoch REPLAYS (applied marker, no live probe) recompute."""
    import os

    from ..operators.dedup import (lsh_dedup_incremental, lsh_index_member,
                                   validate_compact_knobs)

    # r19 ADVICE: a bad firing bound raises here (sink construction),
    # not as a repeated foreachBatch failure after the stream starts.
    validate_compact_knobs(compact_buckets_per_firing, compact_bytes_per_firing)
    marker = os.path.join(index_dir, "_last_epoch")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        with query_scope():  # the epoch's pinned tables release on return
            rows = None
            if not _epoch_applied(marker, checkpoint, epoch_id):
                # advance the seen-set exactly once per epoch
                rows = lsh_dedup_incremental(
                    batch_df, index_dir, text_col=text_col,
                    compact_files_per_bucket=compact_files_per_bucket,
                    compact_buckets_per_firing=compact_buckets_per_firing,
                    compact_bytes_per_firing=compact_bytes_per_firing).lsh_rows
                _commit_epoch(marker, checkpoint, epoch_id)
            lsh_index_member(batch_df, index_dir, text_col, lsh_rows=rows).write.mode(
                "overwrite").parquet(os.path.join(admitted_dir, f"epoch={epoch_id}"))

    return write_batch


def start_lsh_dedup_sink(
    docs: DataFrame, index_dir: str, admitted_dir: str, checkpoint: str,
    text_col: str = "text", trigger_seconds: float = 1.0,
    compact_files_per_bucket: int | None = 8,
    compact_buckets_per_firing: int = 128,
    compact_bytes_per_firing: int | None = 256 << 20,
) -> StreamingQuery:
    """X2 (streaming twin of ``lsh_dedup_incremental``, r16): near-dup
    text dedup as a microbatch sink over a persisted ``lsh_index_build``
    index. Each microbatch probes + advances the index; admitted ids land
    under ``{admitted_dir}/epoch=N/``. Streaming==batch admit parity and
    replay idempotence are pytest-pinned. The ``compact_*`` knobs reach
    the probe verbatim (r19: firing cadence/slice/disable are tunable
    from the sink API, not only by bypassing it)."""
    return _foreach_batch_query(docs, lsh_dedup_batch_writer(
        index_dir, admitted_dir, checkpoint, text_col, compact_files_per_bucket,
        compact_buckets_per_firing, compact_bytes_per_firing), checkpoint, trigger_seconds)


def semantic_dedup_batch_writer(index_dir: str, admitted_dir: str,
                                checkpoint: str, vec_col: str = "embedding",
                                codes_col: str | None = None,
                                amax_col: str = "__amax",
                                compact_files_per_bucket: int | None = 8,
                                compact_buckets_per_firing: int = 128,
                                compact_bytes_per_firing: int | None = 256 << 20):
    """The foreachBatch body of :func:`start_semantic_dedup_sink` - the
    LSH writer's discipline verbatim (r17, completing the X2 twin
    family): the checkpoint-bound ``_last_epoch`` marker gates the
    index-advancing probe (no double-append on redelivery); the per-epoch
    output derives from ``semantic_index_member`` (a replayed probe
    collapses to EMPTY at cosine 1.0, membership rescues); a fresh epoch
    hands the probe's materialized assignment to the membership scan (one
    assign pass per epoch). ``codes_col``/``amax_col`` take the ingest
    wire (float never read), mirroring the batch probe."""
    import os

    from ..operators.dedup import (semantic_dedup_incremental,
                                   semantic_index_member,
                                   validate_compact_knobs)

    validate_compact_knobs(compact_buckets_per_firing, compact_bytes_per_firing)
    marker = os.path.join(index_dir, "_last_epoch")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        with query_scope():  # the epoch's pinned tables release on return
            assigned = None
            if not _epoch_applied(marker, checkpoint, epoch_id):
                # advance the seen-set exactly once per epoch
                assigned = semantic_dedup_incremental(
                    batch_df, index_dir, vec_col=vec_col,
                    codes_col=codes_col, amax_col=amax_col,
                    compact_files_per_bucket=compact_files_per_bucket,
                    compact_buckets_per_firing=compact_buckets_per_firing,
                    compact_bytes_per_firing=compact_bytes_per_firing).assigned_cells
                _commit_epoch(marker, checkpoint, epoch_id)
            semantic_index_member(
                batch_df, index_dir, vec_col=vec_col, codes_col=codes_col,
                amax_col=amax_col, assigned=assigned).write.mode(
                "overwrite").parquet(os.path.join(admitted_dir, f"epoch={epoch_id}"))

    return write_batch


def start_semantic_dedup_sink(
    embs: DataFrame, index_dir: str, admitted_dir: str, checkpoint: str,
    vec_col: str = "embedding", codes_col: str | None = None,
    amax_col: str = "__amax", trigger_seconds: float = 1.0,
    compact_files_per_bucket: int | None = 8,
    compact_buckets_per_firing: int = 128,
    compact_bytes_per_firing: int | None = 256 << 20,
) -> StreamingQuery:
    """X2 (streaming twin of ``semantic_dedup_incremental``, r17):
    continuous embedding dedup as a microbatch sink over a persisted
    ``semantic_index_build`` index. Each microbatch probes + advances the
    index; admitted ids land under ``{admitted_dir}/epoch=N/``. Parity,
    replay idempotence: pytest-pinned (the LSH twin's battery, mirrored).
    The ``compact_*`` knobs reach the probe verbatim (r19)."""
    return _foreach_batch_query(embs, semantic_dedup_batch_writer(
        index_dir, admitted_dir, checkpoint, vec_col, codes_col, amax_col,
        compact_files_per_bucket, compact_buckets_per_firing, compact_bytes_per_firing),
        checkpoint, trigger_seconds)
