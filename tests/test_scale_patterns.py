"""Scale-pattern tests: salted aggregation equals plain aggregation;
bucketed tables join without a shuffle; streaming restarts resume from
the checkpoint without duplicating output."""

from __future__ import annotations

import math

import pytest

from real_time_crypto_market_data_pipeline_spark.operators import skew as SK
from tests import _reference_impls as R


@pytest.fixture(scope="module")
def skewed_df(spark):
    # one hot key (90% of rows) + a cold tail
    rows = [("HOT", float(i % 97)) for i in range(9000)] + [
        (f"cold{i % 50}", float(i)) for i in range(1000)
    ]
    return spark.createDataFrame(rows, "key STRING, v DOUBLE")


def test_salted_stats_equal_plain_stats(skewed_df):
    plain = {
        r.key: r
        for r in R.plain_grouped_stats(skewed_df, ["key"], "v", "s_").collect()
    }
    salted = {
        r.key: r
        for r in SK.salted_grouped_stats(skewed_df, ["key"], "v", "s_").collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k].s_count == plain[k].s_count
        assert math.isclose(salted[k].s_mean, plain[k].s_mean, rel_tol=1e-9)
        assert math.isclose(
            salted[k].s_std, plain[k].s_std, rel_tol=1e-6, abs_tol=1e-9
        )
        assert salted[k].s_min == plain[k].s_min
        assert salted[k].s_max == plain[k].s_max


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """Bucketing both sides on the join key co-locates them: the join
    plan has zero Exchange nodes - the 100 TB fact-fact join answer."""
    import shutil
    from urllib.parse import urlparse

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    # the in-memory catalog's DROP does not remove files left by a
    # previous session; clear the managed locations explicitly
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("li_b", "ord_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("li_b")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("ord_b")
    # at this toy size Catalyst rightly prefers broadcast; disable it
    # to surface the bucketed sort-merge path a 100 TB fact-fact join
    # would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            spark.table("li_b").l_orderkey == spark.table("ord_b").o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == 6000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill a query mid-stream, restart with the same checkpoint and a
    grown input: output contains every frame exactly once."""
    from real_time_crypto_market_data_pipeline_spark.operators.normalize import normalize_frames
    from real_time_crypto_market_data_pipeline_spark.sources.okx_ws import write_replay_file
    from real_time_crypto_market_data_pipeline_spark.streaming import pipeline as P

    def frame(ts: int) -> str:
        return (
            '{"arg": {"channel": "trades", "instId": "BTC-USDT"},'
            f' "data": [{{"ts": "{ts}", "px": "1", "sz": "1", "side": "buy", "tradeId": "t{ts}"}}]}}'
        )

    path = str(tmp_path / "frames.jsonl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_replay_file(path, [frame(1000), frame(2000)])

    def run_once():
        raw = P.read_raw_stream(spark, mode="replay", path=path, batch_size=10)
        q = (
            normalize_frames(raw)
            .selectExpr("symbol", "ts_exchange_ms")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    # grow the input, restart from the same checkpoint
    write_replay_file(path, [frame(1000), frame(2000), frame(3000), frame(4000)])
    run_once()
    rows = sorted(
        r.ts_exchange_ms for r in spark.read.parquet(out).collect()
    )
    assert rows == [1000, 2000, 3000, 4000]  # no gaps, no duplicates


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: the runtime re-plan splits a hot key's oversized
    shuffle partition into parallel sub-joins (skew=true in the final
    plan) - the no-code-change answer to join skew at 100 TB, and the
    reason the engine leaves AQE on everywhere.

    Thresholds are shrunk so local[32]-sized data trips the same
    detection (partition > factor x median AND > threshold bytes) a
    multi-TB hot key would.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        pad = F.concat(F.lit("x" * 100), F.col("id").cast("string"))
        hot = spark.range(200_000).select(F.lit(0).alias("k"), pad.alias("pad"))
        rest = spark.range(20_000).select(
            (F.col("id") % 100 + 1).alias("k"), pad.alias("pad")
        )
        left = hot.unionByName(rest)
        right = spark.range(101).select(
            F.col("id").alias("k"), F.col("id").alias("dim_val")
        )
        joined = left.join(right, "k")
        # execute THIS dataframe's plan (count() would plan separately)
        n = len(joined.collect())
        assert n == 220_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime bloom-filter join pruning: a selective dim-side filter
    is turned into a bloom filter applied to the fact scan BEFORE the
    shuffle (bloom_filter_might_contain in the final plan), cutting
    shuffled fact bytes by the dim's selectivity - at 100 TB this is
    the difference between shuffling the table and shuffling the match.

    Thresholds are lowered so local-scale parquet trips the same
    rewrite; broadcast is disabled to force the shuffle-join shape the
    rewrite targets.
    """
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.tables import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        sf = "/root/testdata/sf0.01"
        orders = load(spark, sf, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, sf, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        rows = j.collect()
        assert len(rows) == 1 and rows[0].n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan  # bloom filter reached the fact side
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_static_partition_pruning(spark, tmp_path_factory):
    """A filter on the partition column must become a PartitionFilter
    (directory-level skip) - at 100 TB this is the difference between
    scanning one day and scanning three years."""
    path = str(tmp_path_factory.mktemp("pruned") / "events_by_day")
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.tables import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    ev.withColumn(
        "dt", F.to_date(F.timestamp_millis(F.col("ms")))
    ).drop("ms").write.partitionBy("dt").mode("overwrite").parquet(path)
    n_days = spark.read.parquet(path).select("dt").distinct().count()
    assert n_days > 1

    one_day = spark.read.parquet(path).where(
        F.col("dt") == F.lit("2024-01-02").cast("date")
    )
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[-1]
    part_filters = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "dt" in part_filters  # pruned at the directory level
    assert "PushedFilters: []" in scan or "dt" not in scan.split(
        "PushedFilters:"
    )[1].split("]")[0]  # NOT a row-level filter: files are never opened


def test_dynamic_partition_pruning(spark, tmp_path_factory):
    """Join a partitioned fact to a filtered dim: DPP must inject the
    dim's surviving keys as a runtime partition filter on the fact
    scan (broadcast reuse), so only matching partitions are read."""
    base = tmp_path_factory.mktemp("dpp")
    fact_path, dim_path = str(base / "fact"), str(base / "dim")
    from pyspark.sql import functions as F

    spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 20).alias("day"), F.rand(7).alias("v")
    ).write.partitionBy("day").mode("overwrite").parquet(fact_path)
    spark.range(0, 20).select(
        F.col("id").alias("day"),
        F.when(F.col("id") < 2, "keep").otherwise("drop").alias("flag"),
    ).write.mode("overwrite").parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("flag") == "keep")
    joined = fact.join(dim, "day").groupBy("day").agg(F.sum("v").alias("sv"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert joined.count() == 2  # only the 2 surviving partitions


def test_bucketized_q12_shape_single_exchange(spark):
    """The Q12 join+agg over bucketize()d fact tables plans exactly ONE
    exchange (the final group-by) - the join itself is co-located.
    Plain parquet pays two join shuffles first; this is the claw-back
    for the hint-free fact spine."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.tables import bucketize

    tabs = bucketize(spark, "/root/testdata/sf0.001", ("lineitem", "orders"))
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        li = spark.table(tabs["lineitem"])
        orders = spark.table(tabs["orders"])
        agg = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "SortMergeJoin" in plan
        assert agg.count() == 5
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_partitioned_probe_is_partition_pruned(spark, tmp_path_factory):
    """The IVF scale story, executed: the k-means assignment table
    written partitionBy(cell_id) and probed with the model's chosen
    cells reads ONLY those cells' directories (PartitionFilters on
    cell_id), and the pruned probe returns the exact same top-k as
    filtering the unpartitioned assignment table."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    model, assigned = S.ivf_kmeans_index(emb, num_cells=4)
    path = str(tmp_path_factory.mktemp("ivf") / "assigned_by_cell")
    assigned.select("vec_id", "embedding", "cell_id").write.partitionBy(
        "cell_id"
    ).mode("overwrite").parquet(path)

    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    probe = S.ivf_kmeans_probe_cells(model, qvec, n_probe=2)
    probed = spark.read.parquet(path).where(F.col("cell_id").isin(probe))

    plan = probed._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[-1]
    part_filters = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell_id" in part_filters  # directory-level skip, not row filter

    # pruned read == logical filter of the full table (same rows)
    want = sorted(
        r.vec_id
        for r in assigned.where(F.col("cell_id").isin(probe))
        .select("vec_id")
        .collect()
    )
    got = sorted(r.vec_id for r in probed.select("vec_id").collect())
    assert got == want and len(got) > 0


def test_capped_ivf_index_probe_reads_bounded_partition(spark, tmp_path_factory):
    """The r9 amortization claim, test-backed: an ivf_assign(max_cell=)
    index written partitionBy(cell_id) has EVERY disk partition at most
    max_cell rows (the split's one-time build cost buys this bound),
    and a probe of the query's cell is partition-pruned (PartitionFilters
    on cell_id) - so each probe scans a <= max_cell-row directory, not
    an unbounded hot cell."""
    import random

    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.operators import (
        similarity as S,
    )

    rnd = random.Random(11)
    base = [rnd.uniform(-1, 1) for _ in range(8)]
    rows = [(i, [b + rnd.uniform(-0.02, 0.02) for b in base] if i >= 4
             else [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cap = 32
    assigned = S.ivf_assign(emb, num_cells=4, max_cell=cap, keep_vec=True)
    path = str(tmp_path_factory.mktemp("ivf_capped") / "assigned_by_cell")
    assigned.write.partitionBy("cell_id").mode("overwrite").parquet(path)

    table = spark.read.parquet(path)
    sizes = {r.cell_id: r["count"] for r in table.groupBy("cell_id").count().collect()}
    assert max(sizes.values()) <= cap  # the cap holds ON DISK

    qcell = assigned.where(F.col("vec_id") == 7).first().cell_id
    probed = table.where(F.col("cell_id") == qcell)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("FileScan")[-1].split("PartitionFilters:")[1].split("]")[0]
    assert "cell_id" in part_filters  # directory-level skip
    assert probed.count() == sizes[qcell] <= cap


def test_interval_join_binned_plans_equi_join_and_matches_naive(spark):
    """The bin-rewrite range join must (a) never plan a nested-loop or
    cartesian join - the O(points x intervals) trap the rewrite exists
    to avoid - and (b) return exactly the rows of the naive inequality
    join."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.operators.rangejoin import (
        interval_join_binned,
    )

    points = spark.range(0, 2000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 13 % 5000).alias("ts"),
        F.col("id").alias("pid"),
    )
    intervals = spark.range(0, 300).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 31 % 4500).alias("s"),
        (F.col("id") * 31 % 4500 + 250).alias("e"),
        F.col("id").alias("iid"),
    )
    joined = interval_join_binned(
        points, intervals, keys=["k"], point_ts="ts",
        start_col="s", end_col="e", bin_width=250,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    got = sorted((r.iid, r.pid) for r in joined.select("iid", "pid").collect())
    naive = (
        intervals.alias("i")
        .join(
            points.alias("p"),
            (F.col("i.k") == F.col("p.k"))
            & F.col("p.ts").between(F.col("i.s"), F.col("i.e")),
        )
        .select("iid", "pid")
    )
    want = sorted((r.iid, r.pid) for r in naive.collect())
    assert got == want and len(got) > 0


def test_interval_join_binned_left_matches_naive_left(spark):
    """LEFT mode: zero-match intervals survive as null point rows and
    aggregate to zero with null-skipping functions, matching the
    naive left inequality join exactly."""
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.operators.rangejoin import (
        interval_join_binned,
    )

    points = spark.range(0, 500).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 17 % 3000).alias("ts"),
        F.col("id").alias("pid"),
    )
    intervals = spark.range(0, 100).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 97 % 6000).alias("s"),  # half beyond max ts: no match
        (F.col("id") * 97 % 6000 + 100).alias("e"),
        F.col("id").alias("iid"),
    )
    got = {
        (r.iid): r.n
        for r in interval_join_binned(
            points, intervals, keys=["k"], point_ts="ts",
            start_col="s", end_col="e", bin_width=100, how="left",
        )
        .groupBy("iid")
        .agg(F.count("pid").alias("n"))
        .collect()
    }
    naive = {
        r.iid: r.n
        for r in intervals.alias("i")
        .join(
            points.alias("p"),
            (F.col("i.k") == F.col("p.k"))
            & F.col("p.ts").between(F.col("i.s"), F.col("i.e")),
            "left",
        )
        .groupBy("iid")
        .agg(F.count("pid").alias("n"))
        .collect()
    }
    assert got == naive
    assert 0 in set(got.values())  # zero-match intervals really occur


def test_interval_join_binned_rejects_malformed_and_oversized_intervals(spark):
    """Guard contract: start > end raises (instead of sequence()
    silently emitting a descending bin list that matches nothing),
    and an interval wider than max_bins_per_interval bins raises
    (instead of exploding to unbounded rows). Well-formed intervals
    at exactly the cap still join."""
    import pytest
    from pyspark.sql import functions as F

    from real_time_crypto_market_data_pipeline_spark.operators.rangejoin import (
        interval_join_binned,
    )

    points = spark.range(0, 100).select(
        F.lit(0).alias("k"), (F.col("id") * 10).alias("ts"), F.col("id").alias("pid")
    )

    def run(intervals, **kw):
        interval_join_binned(
            points, intervals, keys=["k"], point_ts="ts",
            start_col="s", end_col="e", bin_width=100, **kw,
        ).count()

    malformed = spark.createDataFrame([(0, 500, 400, 0)], "k INT, s LONG, e LONG, iid INT")
    with pytest.raises(Exception, match="malformed interval"):
        run(malformed)

    sentinel = spark.createDataFrame(
        [(0, 0, 2**40, 0)], "k INT, s LONG, e LONG, iid INT"
    )
    with pytest.raises(Exception, match="max_bins_per_interval"):
        run(sentinel)

    # exactly at the cap: 4 bins with max 4 passes and matches
    ok = spark.createDataFrame([(0, 0, 399, 0)], "k INT, s LONG, e LONG, iid INT")
    run(ok, max_bins_per_interval=4)


def test_spread_for_fanout_size_gate(spark):
    """The pre-explode spread obeys its compute-density contract: with
    min_bytes set, a narrow input whose file-stats estimate is under the
    gate keeps its single-stage plan; over the gate (or with unknown
    stats, where the estimate is Long.MaxValue) it conservatively
    spreads; min_bytes=0 always spreads a narrow input."""
    from real_time_crypto_market_data_pipeline_spark.operators.text import (
        spread_for_fanout,
    )

    def spread_fired(df):
        return "hashpartitioning" in (
            df._jdf.queryExecution().executedPlan().toString()
        )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # narrow: the gate is live
    est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 0 < est < 8 << 20  # real file-size stats, under the gate

    assert not spread_fired(spread_for_fanout(docs, min_bytes=8 << 20))
    assert spread_fired(spread_for_fanout(docs, min_bytes=0))
    assert spread_fired(spread_for_fanout(docs, min_bytes=est))  # est < gate

    # non-file relation: stats unknown (Long.MaxValue) -> conservative spread
    local = spark.createDataFrame([(0, "a b c")], "doc_id LONG, text STRING")
    assert spread_fired(spread_for_fanout(local.coalesce(1), min_bytes=8 << 20))


def test_spread_for_fanout_private_reach_fallback(spark):
    """r21 VERDICT #7: the physical-width probe reaches private API
    (``_jdf.queryExecution()``); where that reach fails, the public
    ``df.rdd`` width answers and the input is still spread correctly."""
    from py4j.protocol import Py4JError

    from real_time_crypto_market_data_pipeline_spark.operators.text import (
        spread_for_fanout,
    )

    class _NoQueryExecution:
        def __init__(self, jdf):
            self._jdf, self.reached = jdf, 0

        def queryExecution(self):  # noqa: N802 - the JVM method's casing
            self.reached += 1
            raise Py4JError("queryExecution unavailable")

        def __getattr__(self, name):
            return getattr(self._jdf, name)

    docs = spark.createDataFrame(
        [(i, f"t {i}") for i in range(40)], "doc_id LONG, text STRING").coalesce(1)
    proxy = docs._jdf = _NoQueryExecution(docs._jdf)
    out = spread_for_fanout(docs)
    assert proxy.reached == 1  # the private reach was tried and failed
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.doc_id for r in out.collect()) == list(range(40))


def test_interval_join_bin_width_accepts_integral_rejects_bool(spark):
    """bin_width contract (r8 ADVICE): numpy integers (a COUNT result
    via pandas) are valid widths; bool and non-positive values raise
    ValueError up front instead of failing later in SQL parsing."""
    import numpy as np
    import pytest

    from real_time_crypto_market_data_pipeline_spark.operators.rangejoin import (
        interval_join_binned,
    )

    points = spark.createDataFrame([(0, 50, 1)], "k INT, ts LONG, pid INT")
    intervals = spark.createDataFrame([(0, 0, 99, 7)], "k INT, s LONG, e LONG, iid INT")

    def run(width):
        return interval_join_binned(
            points, intervals, keys=["k"], point_ts="ts",
            start_col="s", end_col="e", bin_width=width,
        ).count()

    assert run(np.int64(100)) == 1  # Integral, not bare int: accepted
    for bad in (True, False, 0, -5, 0.5, "100"):
        with pytest.raises(ValueError, match="positive int"):
            run(bad)


def test_scaling_corpus_rebuild_formula_reproduces(spark):
    """r10 VERDICT optional: replay the SCALING.md probe-corpus rebuild
    formula (copy i of N rotates embedding coords (0,1) by theta =
    2*pi*i/N/7, ids offset i*n - the exact /tmp/x100 recipe) at toy
    scale (x4 of sf0.001) and pin the kept-set counts: the perf
    ledger's corpora and kernels are reproducible on any box, the way
    the oracle pins correctness. Constants recorded 2026-08-15 on the
    round-11 kernels; a change here means the PROBE CORPUS or the
    dedup kernel semantics moved - re-derive the ledger if intended."""
    from pyspark.sql import functions as F

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n, copies = base.count(), 4
    parts = [base.select("vec_id", "embedding")]
    for i in range(1, copies):
        th = 2.0 * math.pi * i / copies / 7.0
        c, s = math.cos(th), math.sin(th)
        e = F.col("embedding")
        x, y = F.element_at(e, 1).cast("double"), F.element_at(e, 2).cast("double")
        rot = F.concat(F.array((x * F.lit(c) - y * F.lit(s)).cast("float")),
                       F.array((x * F.lit(s) + y * F.lit(c)).cast("float")),
                       F.slice(e, 3, 62))
        parts.append(base.select((F.col("vec_id") + F.lit(i * n)).alias("vec_id"),
                                 rot.alias("embedding")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D

    assert u.count() == copies * n == 2000
    assert D.semantic_dedup(u, max_cell=1000).count() == 527
    assert D.semantic_dedup(u, max_cell=1000, transport="int8").count() == 525
