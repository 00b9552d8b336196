"""Regenerate EXPLAIN.md: formatted physical plans of the headline
queries with the scale-relevant properties called out."""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import real_time_crypto_market_data_pipeline_spark.operators.similarity as S  # noqa: E402
from real_time_crypto_market_data_pipeline_spark.plans import QUERIES  # noqa: E402
from real_time_crypto_market_data_pipeline_spark.plans.ext_queries import ANN_RECALL_SWEEP  # noqa: E402
from real_time_crypto_market_data_pipeline_spark.session import get_spark, query_scope  # noqa: E402
from real_time_crypto_market_data_pipeline_spark.tables import load  # noqa: E402

SF = "/root/testdata/sf0.01"

COMMENTARY = {
    "q_tpch_q1": "Filter + all 7 needed columns pushed to the scan; partial aggregation before the single exchange carries only the group keys.",
    "q_tpch_q6": "All four predicates in PushedFilters; global agg = one partial/final pair, no grouping shuffle.",
    "q_join_enrich": "nation (bounded) broadcasts; orders-customer is a hint-free key-partitioned join AQE sizes at runtime - small here, SMJ at 100 TB, never an OOM-by-hint. The fact scan reads 3 columns.",
    "q_order_revenue_topk": "Filtered orders side broadcast into the lineitem scan; final top-10 is TakeOrderedAndProject (per-partition heap), not a global sort.",
    "q_topk_per_group": "WindowGroupLimit runs partial top-k per input partition BEFORE the shuffle, then final after - the rank-limit pushdown.",
    "q_cosine_topk": "One-row query side broadcast (BroadcastNestedLoopJoin); corpus scan shuffle-free; top-k via TakeOrderedAndProject.",
    "q_percentiles": "Nearest-rank-lower rule: the rank and count windows share one partitioning - one scan, one exchange, one sort; no interpolation, no collect.",
    "q_csv_snapshot": "The flagship composition fused to ONE pass: the lag window keeps first-per-key rows (null stale_ms), so latency AND staleness stats aggregate from the same windowed frame - one scan, one exchange (the grouped agg reuses the window's key partitioning), zero joins (previously two scans + a full-outer merge). Mean/std from exact integer partial sums (long cents for values, 128-bit decimal for staleness squares): bit-reproducible under any merge order.",
    "q_dedup_near": "MinHash: explode shingles once, 8 codegen'd md5 mins, partial-aggregated so the exchange carries one row per doc; banding is a projection.",
    "q_token_stats": "Vocabulary census: explode -> partial-aggregated groupBy(token), shuffle O(vocab) not O(corpus); the pre-explode spread is size-gated (8 MB) because for this cheap per-row fan-out the exchange's stage barrier costs more than single-stage tokenization below that (SCALING.md r6 A/B) - a compact-but-large single file still spreads.",
    "q_dedup_jaccard": "Pair generation via shingle equi-join (disjoint pairs pruned by the join); never a cartesian product.",
    "q_dedup_jaccard_pruned": "df-capped Jaccard (the benched form): the hot-shingle census comes back as a broadcast LEFT-ANTI prune on both self-join sides, bounding the equi-join at max_df*n rows where the exact form carries sum(df^2); the distinct shingle table materializes once (lazy localCheckpoint) because the census, the sizes, and BOTH join sides consume it - without that the explode+distinct subtree executes four times (5.6 -> 3.5 s at x10, SCALING.md r15).",
    "q_ann_recall": "Recall@10 sweep over ONE persisted assignment (r16): the three-level Arrow-BLAS quantizer runs once into an InMemoryRelation; exact ground truth, the centroid ranking (a max(n_probes)-row driver collect), and every probe width read that same cache - the plan's probe legs are InMemoryTableScans of one relation, so the sweep costs ONE corpus assign pass where r15 paid one per width; recall legs stay k-row broadcast semi-joins. The registered form collects eagerly in its own query_scope and releases the cache (the codes-probe discipline); the dump shows the lazy plan it collects.",
    "q_media_summary": "Metadata rollup: ReadSchema excludes the binary payload column entirely.",
    "q_asof_join": "As-of join fused into ONE scan (r20): both sides are predicates over the same event stream, so the union collapses into the scan, right-tie resolution moves into the window order (ties sort by value; the carried last_value IS the max), and the previous right-side pre-aggregation exchange disappears - one scan, one shuffle+sort per key, no range-join explosion, no nested loop.",
    "q_sessionize": "Both window passes (lag marking + running sum) share a single exchange+sort on the key.",
    "q_tpch_q5": "Six-table star: supplier/nation/region broadcast (region filter prunes the build sides first); the lineitem-orders and orders-customer fact edges shuffle on their equi-keys hint-free, so AQE picks broadcast at small SF and SMJ at scale.",
    "q_tpch_q2": "Decorrelated min-cost-per-part: the fact reduces to narrow (partkey, suppkey, cost) rows first; repartition(l_partkey) satisfies BOTH the group-by and the window, so the rows shuffle exactly once, and supplier strings broadcast in only after the min-filter.",
    "q_tpch_q9": "Five-table profit rollup: part/supplier/nation broadcast (the %gear% LIKE prunes the part build side pre-join); the lineitem-orders spine is hint-free - one l_orderkey shuffle AQE sizes, safe at any scale.",
    "q_tpch_q21": "Correlated EXISTS / NOT EXISTS resolve from two distinct-supplier counts over ONE l_orderkey window (r20): lineitem is scanned once instead of three times, the per-order collect_sets are bounded by suppliers-per-order, and the hint-free orders status semi-join co-partitions on the window's exchange at scale - no cartesian, no BroadcastNestedLoopJoin.",
    "q_interval_count": "Time-banded interval join: floor(ts/range) joins as part of the key (each left row explodes into two adjacent band probes), so a hot user's pairwise work is bounded by band co-residency; the range predicate rides the join as a residual so zero-match rows still count 0 through the left join.",
    "q_corpus_prep": "The composed pretraining funnel (quality gate -> exact dedup -> hash split) resolves to ONE FileScan and ONE exchange: scoring and gating fuse into the scan stage, the dedup window on md5(text) is the only shuffle, the split is a projection.",
    "q_decontaminate": "Eval-leakage scan: the eval shingle set broadcasts; the training corpus streams through the inner join map-side, so the only exchange carries flagged (doc_id, count) rows - a 100 TB corpus scan that shuffles kilobytes.",
    "q_merge_upsert": "MERGE INTO emulation: both merge legs (update left-outer, insert anti) join O(customer) sides, so neither carries a broadcast hint - they co-partition on c_custkey and AQE may still broadcast a genuinely small change batch at runtime; the spend sums integer cents for hash determinism.",
    "q_scd2_history": "SCD Type-2 build: lead, row_number, running cents-sum and is_current all share one partitioning+ordering - ONE exchange and ONE sort serve four window functions.",
    "q_twap": "Time-weighted average: the lead window and the aggregation both key on user_id, so the agg reuses the window's exchange; integer cents x ms keeps partial sums exact under any merge order.",
    "q_profile_columns": "Whole-table profile in one pass: 5 exact COUNT(DISTINCT)s + null/min/max metrics compile to a single Expand-based aggregate over ONE FileScan - not the per-column scan union a naive profiler runs.",
    "q_cosine_topk_arrow_highdim": "1024-dim scoring escape hatch: one BLAS matmul per Arrow batch inside mapInPandas replaces a 1024-step Catalyst fold per row (measured 1.9x at sf0.1, growing with corpus); top-k stays TakeOrderedAndProject.",
    "q_pit_read": "AS OF read of the SCD2 history: the version-window build and the max_by(version <= T) aggregate share the o_custkey partitioning - one exchange end to end; the history scan is the whole cost, which is the point of materializing SCD2.",
    "q_repetition_stats": "Gopher-style repetition filters: ONE scan explodes all three n-gram orders tagged with n, and the doc_id fan-out repartition satisfies ClusteredDistribution for both the (doc,n,gram) count and the (doc) pivot - one exchange total, no per-doc O(tokens^2) array self-scan.",
    "q_rollup_merge": "Continuous aggregate: hour partials (integer sums) re-group to day buckets and finalize mean/std - the merge agg consumes |buckets| rows, so the day report is O(hour-buckets) while staying bit-identical to a raw-rows rollup.",
    "q_pack_sequences": "Sequence packing: chunking is pure projection+explode on the scan; the md5 bucket hash feeds the ONLY exchange, whose window running-sum assigns bins as a projection - |buckets| independent packing streams, no global serialization point.",
    "q_ann_ivf_kmeans": "k-means IVF probe: assignment is the three-level quantizer scored by BLAS per Arrow batch (MapInPandas, ~3n*cbrt(C) cosines, NO exchange at all on the corpus pass - replacing the n x C model.transform pass), cell membership filters the corpus, the one-row query broadcasts, and top-k is TakeOrderedAndProject - at scale the assignment table is partitioned by cell_id so the probe is a partition-pruned scan of n_probe/C of the corpus.",
    "q_mix_temperature": "Temperature mixing: the language census is a 5-row aggregate broadcast back onto the corpus, so the keep/drop decision is a codegen'd md5-bucket comparison inside the scan stage - a 100 TB re-mix that shuffles nothing but the census.",
    "q_boilerplate": "Cross-doc boilerplate: the DF>=5 shingle census comes back as a broadcast LEFT-join flag, so n_shingles and n_boiler fall out of ONE doc-keyed aggregation - two Generates total, never a third corpus re-explode (explode_outer keeps shingle-less docs in-stream, deleting the old restore-join scan), and no doc-keyed shuffle of raw shingles.",
    "q_shuffle_shard": "Training-order shuffle: the window partitions by the md5-derived shard, so the plan is ONE hash exchange plus per-shard local sort - at 10k shards each sort is corpus/10k and spillable, where a global ORDER BY row_number would funnel everything through one partition.",
    "q_semdedup": "SemDeDup: the (id, cell, vector) assignment - three-level Arrow-BLAS quantizer, ~3n*cbrt(C) cosines with C derived from the corpus count so cells stay ~250 rows at any scale - is computed once and materialized (localCheckpoint - the partitioned assignment table at scale); pairwise cosine runs as a row-blocked gram matrix per cell group (applyInPandas, ONE cell_id exchange) with the r9 FUSED ring cap bounding same-ring comparisons to sum<=max_cell*n work in-task (23.8x -> 3.46x balanced at 20 M vectors, SCALING.md), and the survivors anti-join is broadcastable under AQE; transport='int8' (r10) quantizes SQ8 in the assign worker so checkpoint/shuffle/pairwise legs carry ~4x fewer bytes. As lazy lineage this planned EIGHT corpus scans; the 2 M-vector probe is 5.2 s, 20 M is 54.1 s (SCALING.md r10).",
    "q_realized_vol": "Realized volatility: the lag window and the aggregation both key on user_id, so one exchange+sort serves both; the squared-log-return map is codegen'd inside the window stage.",
    "q_drawdown": "Max drawdown: running max is a rows-frame window (no self-join); the groupBy reuses the window's user_id exchange - one shuffle end to end.",
    "q_quantize_int8": "int8 scalar quantization: pure per-row higher-order functions over the corpus scan - zero exchanges, zero Python; codes and error audit come out of the same projection.",
    "q_filter_funnel": "Filter funnel: all rules are scalar expressions fused into the scan stage; the only exchange is the map-side-combined (source, stage) aggregate - O(sources x 5) rows of shuffle for a full-corpus report.",
    "q_interval_join": "Range join via bin rewrite: the point-in-window match is a LEFT equi-join on (user_id, time-bin) with the BETWEEN in the join condition - no BroadcastNestedLoopJoin anywhere; each interval explodes to <= 2 bins, zero-match windows survive as null rows the count/sum skip, and each source scans exactly once.",
    "q_zorder_key": "Z-order layout key: the Morton interleave compiles to 16 shift/mask terms in one codegen'd projection - no shuffle, no UDF; write-side sortWithinPartitions on zkey is the only exchange a clustered rewrite needs.",
    "q_correlation": "Cross-series correlation: each series aggregates to the (type, day) grain FIRST, then pairs expand via per-day collect_list + higher-order functions - ONE corpus scan (the self-join form re-scans events twice); every post-collapse exchange carries day-grain rows.",
    "q_funnel": "Strict-order funnel: ONE scan, ONE exchange - two chained RANGE-frame running mins share the user-keyed sort, and the per-user aggregate reuses the window's partitioning; the chained-join form re-scans events five times.",
    "q_session_stats": "Per-session stats: the (user_id, session_id) grouping keys superset the window's user_id partitioning, so the aggregate reuses the sessionizer's exchange - one scan, one exchange, one sort end to end; value sums ride in exact integer cents.",
    "q_retention_cohort": "Retention cohorts: the raw stream collapses to DISTINCT (user, week) presence FIRST (map-side combine shrinks 10^11 events to |users| x |weeks| rows); the cohort window and final count run over that small relation.",
}


def main() -> None:
    spark = get_spark("explain-dump")
    out = [
        "# EXPLAIN — physical plans of the headline queries",
        "",
        "Regenerate with `python tools/explain_dump.py` (runs at sf0.01).",
        "Each plan is the AQE-initial physical plan; the property that",
        "makes it scale is noted above the plan.",
        "",
    ]
    for name, note in COMMENTARY.items():
        with query_scope():
            # q_ann_recall returns its collected rows: dump the lazy sweep
            df = (S._recall_sweep(load(spark, SF, "embeddings"), **ANN_RECALL_SWEEP)
                  if name == "q_ann_recall" else QUERIES[name](spark, SF))
            plan = df._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"#\d+L?", "", plan)  # strip expr ids for readable diffs
        plan = re.sub(r", \[plan_id=\d+\]", "", plan)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Why it scales:** {note}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(COMMENTARY)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
