"""Deduplication operators for training-data pipelines (SURVEY 2.7 X1/X2).

Four families, each designed so the heavy work is a keyed shuffle that
scales linearly and the pairwise work only ever happens inside small
candidate buckets:

- exact:   groupBy(text), min-doc_id representative; at 100 TB shuffle
           on md5(text) (uniform 64-hex key), never raw text bytes.
- MinHash+LSH: shingle -> k min-hashes -> band buckets -> candidate
           pairs only within buckets.
- SimHash: per-token hash bits, weighted sum per position, sign ->
           fingerprint; near-dups share low Hamming distance. Linear.
- n-gram Jaccard: exact verify via a shingle-equi-join restricted to
           plausible pairs, never a cross join.

Hashing uses md5 (cross-engine stable) so every operator has an exact
DuckDB oracle; at production scale swap `_hash_str` to xxhash64 (~2x
faster JVM-side), dropping oracle parity - the topology is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin, query_scope
from .text import spread_for_fanout, tokens_col, word_shingles

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_ROWS = 2  # bands = num_hashes / band_rows
IDX_BUCKETS = 1024  # kept-index dir fan-out cap (C dirs listed ~20s at C=80k)


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """X1: exact dedup with deterministic representatives.

    ``dropDuplicates`` keeps an arbitrary row per key; for reproducible
    output (and a deterministic oracle) we keep min(doc_id) per text
    and report the copy count. Grouping key is md5(text) so the shuffle
    moves 32-byte keys, not document bodies.
    """
    return (
        docs.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").cast("long").alias("doc_id"),
             F.count(F.lit(1)).cast("long").alias("n_copies")))


def incremental_dedup(
    batch: DataFrame, corpus: DataFrame, text_col: str = "text",
) -> DataFrame:
    """X1 (ingest form): admit only batch docs new to the corpus.

    The production shape of exact dedup: every ingest batch is checked
    against the already-ingested corpus, not against itself alone.
    Two stages, both on 32-byte md5 keys: (1) collapse intra-batch
    copies to the min-id representative, (2) anti-join the survivors
    against the corpus hash set. Returns (doc_id, text_hash) admitted.

    Scale: the corpus side reduces to its hash column first, so the
    shuffle carries 32-byte keys - at 100 TB the hash set stays
    materialized between ingests (partitioned by hash prefix), the
    anti-join is a partition-local probe, a bloom prefilter cuts probe
    volume.
    """
    b = (
        batch.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash").agg(F.min("doc_id").cast("long").alias("doc_id")))
    seen = corpus.select(F.md5(F.col(text_col)).alias("text_hash"))
    return b.join(seen, "text_hash", "left_anti").select("doc_id", "text_hash")


def minhash_wide(
    docs: DataFrame, text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES, shingle_n: int = 3,
) -> DataFrame:
    """X2 stage 1: MinHash signature matrix, one row per doc.

    Explode shingles once, evaluate all k seed-hashes as codegen'd
    md5 columns, aggregate with k ``min``s. Map-side partial
    aggregation collapses each partition to one row per doc before the
    exchange, so the shuffle carries |docs| rows regardless of corpus
    size. (A pure higher-order-function formulation would avoid even
    that shuffle, but HOFs fall out of whole-stage codegen and measure
    ~2x slower - explode + codegen beats interpreter-mode lambdas.)
    """
    toks = tokens_col(F.col(text_col))
    sh = word_shingles(toks, shingle_n)
    exploded = spread_for_fanout(docs).select(
        "doc_id", F.explode(sh).alias("shingle"))
    return _minhash_agg(exploded, num_hashes)


def _minhash_agg(exploded: DataFrame, num_hashes: int) -> DataFrame:
    """k seed-hash ``min`` aggregates over (doc_id, shingle) rows;
    duplicate-insensitive, so distinct and raw streams agree (r21)."""
    return exploded.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(f"sig{j}")
          for j in range(num_hashes)])


# (The long-form signature-matrix + banding composition moved to
# tests/_reference_impls.py in r6: it cross-checks the fused plan below.)
def lsh_bucket_table(
    docs: DataFrame, text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES, band_rows: int = DEFAULT_BAND_ROWS,
    shingle_n: int = 3,
) -> DataFrame:
    """X2 stages 1+2 fused: docs -> (doc_id, band, bucket).

    ``minhash_wide`` (one partial-aggregated shuffle of |docs| rows)
    followed by a pure-projection banding explode. Equivalent to the
    textbook signatures->banding composition - asserted against the
    reference implementation in tests/_reference_impls.py.
    """
    wide = minhash_wide(docs, text_col, num_hashes, shingle_n)
    return _band_explode(wide, num_hashes, band_rows)


def _band_explode(wide: DataFrame, num_hashes: int, band_rows: int) -> DataFrame:
    """Signature matrix -> (doc_id, band, bucket) banding projection."""
    bands = F.array(*[
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.md5(F.concat(
                F.lit(f"{b}|"),
                *[F.col(f"sig{b * band_rows + r}") for r in range(band_rows)],
            )).alias("bucket"))
        for b in range(num_hashes // band_rows)])
    return wide.select("doc_id", F.explode(bands).alias("_b")).select(
        "doc_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket"))


def lsh_candidate_pairs(buckets: DataFrame) -> DataFrame:
    """X2 stage 3: candidate pairs = docs sharing any band bucket.

    Self-equi-join on (band, bucket) with doc_a < doc_b, distinct.
    The join key is the bucket hash, so pair generation is local to
    each bucket's partition - the cross product never materializes.
    """
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct())


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """X2 (SimHash family): 32-bit SimHash fingerprint per document.

    token hash = first 8 hex chars of md5 (32-bit, engine-portable via
    ``conv``); bit_j contributes +1 if set else -1, summed over token
    occurrences; fingerprint bit_j = (sum > 0). Linear in corpus size:
    explode(tokens) x bits is a projection, and the only shuffle is
    groupBy(doc_id, bit) with partial aggregation.
    """
    tok = spread_for_fanout(docs).select(
        "doc_id", F.explode(tokens_col(F.col(text_col))).alias("token"))
    hashed = tok.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("bigint"))
    per_bit = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        F.col("h"),
    ).withColumn(
        # shiftright's Python wrapper wants a literal int; the SQL
        # function accepts a column operand
        "w",
        F.expr("CASE WHEN shiftright(h, CAST(bit AS INT)) % 2 = 1 THEN 1 ELSE -1 END"),
    )
    votes = per_bit.groupBy("doc_id", "bit").agg(F.sum("w").alias("s"))
    return votes.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0,
                     F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
              .otherwise(F.lit(0).cast("bigint")))
        .cast("long").alias("simhash"))


def jaccard_pairs(
    docs: DataFrame, text_col: str = "text", shingle_n: int = 3,
    top_k: int | None = 20, min_jaccard: float | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """X2 (verify): n-gram Jaccard similarity for co-shingled pairs.

    |A intersect B| via a distinct-(doc, shingle) self-join on shingle;
    |A union B| = |A| + |B| - |A intersect B|. Pairs with zero shared
    shingles never appear (the equi-join prunes them), so the pairwise
    stage is bounded by shingle co-occurrence, not by n^2. At 100 TB a
    hot shingle is a skew key: cap or salt ultra-frequent shingles
    (stopword shingles) before the join - ``max_df`` does exactly that.

    Why the global ``distinct()`` shuffle and not per-doc
    ``array_distinct`` + explode (which would be two exchanges instead
    of five): MEASURED 4-6x slower at sf0.1. ``array_distinct`` over
    the lambda-built shingle expression drops the whole subtree out of
    whole-stage codegen into interpreted evaluation, and Catalyst's
    pushed-down non-empty filter then re-evaluates that interpreted
    expression on the single pre-shuffle input partition. Exchange
    count is not the cost model here; codegen coverage is. (The
    distinct output is also exchange-reused across both join sides.)
    The shingle table is pinned into the caller's ``query_scope``.
    """
    # materialize the distinct shingle table ONCE (lazily): sizes, the
    # df census, and both join sides read it, and exchange reuse does
    # not cover the post-prune branches - 5.6 -> 3.5 s at x10 (SCALING.md r15)
    sh = pin(spread_for_fanout(docs).select(
        "doc_id",
        F.explode(word_shingles(tokens_col(F.col(text_col)),
                                shingle_n)).alias("shingle")).distinct(),
        "checkpoint", eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        # df-pruning: a shingle appearing in >max_df docs contributes
        # df^2 join rows while carrying ~no similarity signal (it's the
        # stopword-shingle skew key); drop it before the self-join.
        # NOTE: |A| and |B| keep the full shingle sets, so pruned
        # jaccard is a LOWER bound of the exact value.
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
               .where(F.col("df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), on="shingle", how="left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}), "doc_b")
        .select("doc_a", "doc_b",
                (F.col("inter").cast("double")
                 / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
                 ).alias("jaccard")))
    if min_jaccard is not None:
        jac = jac.where(F.col("jaccard") >= min_jaccard)
    if top_k is not None:
        jac = jac.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b").limit(top_k)
    return jac


def embedding_near_dup(
    embeddings: DataFrame, block_col: str = "label",
    threshold: float | None = None, top_k: int | None = 20,
) -> DataFrame:
    """X2 (embedding family): cosine near-dup pairs within blocking keys.

    Blocked self-join (here on ``label``; in production on a coarse
    quantization/IVF cell id) keeps the pair count at
    sum(block^2) rather than n^2. Cosine rides the built-in sequential
    fold (engine-portable) with norms precomputed per ROW before the
    join, so the interpreted per-pair work is the dot alone.
    """
    from .similarity import dot, l2_norm

    e = embeddings.select(
        F.col("vec_id"), F.col(block_col).alias("_blk"), F.col("embedding"),
        l2_norm(F.col("embedding")).alias("_n"),
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a._n") * F.col("b._n")
    )
    pairs = (
        a.join(b, on="_blk")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
    )
    if threshold is not None:
        pairs = pairs.where(F.col("cosine") >= threshold)
    if top_k is not None:
        pairs = pairs.orderBy(F.col("cosine").desc(), "vec_a", "vec_b").limit(top_k)
    return pairs


def lsh_jaccard_dedup(
    docs: DataFrame, text_col: str = "text", min_jaccard: float = 0.5,
    shingle_n: int = 3, broadcast_max_candidates: int = 200_000,
) -> DataFrame:
    """X2 end-to-end: LSH candidates -> exact Jaccard verify -> dup pairs.

    The production near-dup pipeline: pairwise work only on LSH candidates
    (sum of bucket^2), with the exact trigram Jaccard as the verifier. Returns
    pairs at or above ``min_jaccard`` - at scale the survivors feed a
    connected-components pass to pick cluster representatives.

    The verify join is size-gated: the candidate list is persisted and counted
    once, and only if it holds at most ``broadcast_max_candidates`` pairs does
    the broadcast plan run (each broadcast row carries a full shingle set,
    ~KBs, so 200k rows is already a few hundred MB of build side). Above the
    gate - a near-dup-heavy corpus where Σbucket² explodes - the verify joins
    fall back to hash-shuffles on doc_a/doc_b, which scale unboundedly at the
    cost of two exchanges. The count() is one extra tiny job over the
    persisted pair list, not a recompute of the minhash agg.

    The distinct-shingle SETS compute once, pinned (like the candidates)
    into the caller's ``query_scope``: minhash consumes them exploded (min
    over distinct shingles is bit-identical) and both verify sides read
    them directly (one shingle pass, not three: OPTIMIZATION_r21.md).
    """
    sh_sets = pin(_shingle_sets(docs, text_col, shingle_n))
    buckets = _band_explode(
        _minhash_agg(sh_sets.select("doc_id", F.explode("sh").alias("shingle")),
                     DEFAULT_NUM_HASHES),
        DEFAULT_NUM_HASHES, DEFAULT_BAND_ROWS)
    cands = pin(lsh_candidate_pairs(buckets))
    n_cands = cands.count()
    # Verify WITHOUT exploding: each doc keeps its distinct-shingle SET
    # as one array row, the (small, LSH-bounded) candidate list
    # broadcasts onto it, and the exact intersection is array_intersect
    # per pair. Versus the exploded equi-join formulation this removes
    # the |docs|x|shingles| distinct shuffle AND the (doc, shingle) join
    # shuffle - the only wide exchange left in the whole pipeline is
    # minhash's own signature aggregation.
    a = sh_sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    if n_cands <= broadcast_max_candidates:
        paired = b.join(F.broadcast(a.join(F.broadcast(cands), "doc_a")), "doc_b")
    else:
        paired = b.join(a.join(cands, "doc_a"), "doc_b")
    out = (
        paired.select("doc_a", "doc_b",
                      _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard))
    return out


def _shingle_sets(docs: DataFrame, text_col: str, shingle_n: int) -> DataFrame:
    """(doc_id, sh): the doc's DISTINCT shingle set as ONE array row -
    the exact-verify payload (empty array when the doc is too short)."""
    return spread_for_fanout(docs).select(
        "doc_id",
        F.coalesce(
            F.array_distinct(word_shingles(tokens_col(F.col(text_col)), shingle_n)),
            F.array().cast("array<string>")).alias("sh"))


def _jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard of two distinct-shingle array sets (one
    array_intersect per pair; |A u B| = |A| + |B| - |A n B|)."""
    n_common = F.size(F.array_intersect(sh_a, sh_b))
    return n_common.cast("double") / (
        F.size(sh_a) + F.size(sh_b) - n_common).cast("double")


def lsh_index_build(
    docs: DataFrame, index_dir: str, text_col: str = "text",
    min_jaccard: float = 0.5, shingle_n: int = 3,
    num_buckets: int | None = None,
) -> None:
    """Build + persist the incremental NEAR-DUP (text) index: one-shot
    ``lsh_jaccard_dedup`` over the seed picks survivors (dropped iff a
    LOWER-id doc shares a band bucket and verifies at Jaccard >=
    ``min_jaccard`` - the min-id rule); ``{index_dir}/kept`` persists
    each survivor's band-bucket rows WITH its distinct-shingle set
    inline (one pruned scan serves candidate generation AND verify;
    the x num_bands sh duplication is parquet-dict-compressed - at
    100 TB split sh into a doc_id-co-bucketed side table). Partitioned
    by bkt = crc32(bucket) % ``num_buckets`` + ``repartition("bkt")``
    (the r12 lesson: a dir per raw bucket VALUE is a listing wall; one
    file per dir). ``num_buckets=None`` derives ~2k band rows per
    bucket, capped at 1024 (100 TB scale): every incremental append
    writes ONE file per touched dir, so oversized fan-out is a
    measured 10 s/batch append wall at 45k docs while undersized
    fan-out just coarsens probe pruning. ``{index_dir}/meta`` records
    the build parameters."""
    with query_scope():  # every intra-build table lives for this call only
        pairs = lsh_jaccard_dedup(docs, text_col, min_jaccard, shingle_n)
        # persist: _lsh_rows consumes kept on TWO join branches, each of
        # which would otherwise re-run the whole one-shot dedup lineage
        kept = pin(docs.join(pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
                             "doc_id", "left_anti"))
        if num_buckets is None:  # ~2k band rows per bucket dir
            num_buckets = min(IDX_BUCKETS, max(8, kept.count() * (
                DEFAULT_NUM_HASHES // DEFAULT_BAND_ROWS) // 2000))
        _lsh_rows(kept, text_col, shingle_n, num_buckets).repartition(
            "bkt").write.mode("overwrite").partitionBy("bkt").parquet(
            f"{index_dir}/kept")
    _write_meta(docs.sparkSession, index_dir, min_jaccard=float(min_jaccard),
                shingle_n=shingle_n, num_buckets=num_buckets)


def _lsh_rows(docs: DataFrame, text_col: str, shingle_n: int,
              num_buckets: int = IDX_BUCKETS) -> DataFrame:
    """Index-layout rows: (doc_id, band, bucket, sh, bkt) - band
    buckets joined with the doc's shingle set, bucket-dir key attached.

    ONE shingle pass: the sets, pinned into the caller's ``query_scope``,
    feed both legs (minhash banding + the inline-sh join); callers
    materialize the rows in a scope that closes right after."""
    sets = pin(_shingle_sets(docs, text_col, shingle_n))
    buckets = _band_explode(
        _minhash_agg(sets.select("doc_id", F.explode("sh").alias("shingle")),
                     DEFAULT_NUM_HASHES),
        DEFAULT_NUM_HASHES, DEFAULT_BAND_ROWS)
    out = buckets.join(sets, "doc_id").withColumns(
        {"doc_id": F.col("doc_id").cast("long"),
         "bkt": (F.crc32("bucket") % num_buckets).cast("int")})
    return out


def _heal_kept_swap(index_dir: str) -> None:
    """Crash recovery for ``_maybe_compact_kept``'s two-rename swap (r16):
    a death between the renames left no readable ``kept/``. The compacted
    tree is always COMPLETE before the first rename runs, so recovery
    rolls FORWARD (finish the swap) when it exists, else rolls BACK to
    the pre-compaction tree. Runs at probe/compact entry (two isdir
    stats), so a torn swap self-heals on the next call. No-op off local
    FS (the lakehouse form swaps via metastore, which is atomic).
    CONTRACT (r17 ADVICE): one driver process per index_dir at a time -
    heal unconditionally rmtree's the __compact/__old trees, so a probe
    racing a LIVE compactor in another process could tear its swap. The
    streaming sink is serial by construction; multi-writer deployments
    must serialize externally (the metastore swap needs no such care)."""
    import os
    import shutil

    kept = os.path.join(index_dir, "kept")
    tmp, old = kept + "__compact", kept + "__old"
    if not os.path.isdir(kept):
        if os.path.isdir(tmp):
            os.rename(tmp, kept)  # compacted tree complete: roll forward
        elif os.path.isdir(old):
            os.rename(old, kept)  # no compacted tree: roll back
    for d in (tmp, old):
        shutil.rmtree(d, ignore_errors=True)


def validate_compact_knobs(max_buckets_per_firing: int,
                           max_bytes_per_firing: int | None) -> None:
    """Firing bounds must be positive (r18 ADVICE: <= 0 degenerated into
    whole-tree hardlink churn that compacted nothing). The dedup sink
    factories call this too, so a bad knob raises at sink CONSTRUCTION
    instead of as a repeated foreachBatch failure mid-stream (r19 ADVICE)."""
    if max_buckets_per_firing < 1:
        raise ValueError(
            f"max_buckets_per_firing must be >= 1, got {max_buckets_per_firing}")
    if max_bytes_per_firing is not None and max_bytes_per_firing < 1:
        raise ValueError("max_bytes_per_firing must be >= 1 or None, "
                         f"got {max_bytes_per_firing}")


def _maybe_compact_kept(spark, index_dir: str, max_files_per_bucket: int,
                        max_buckets_per_firing: int = 128,
                        max_bytes_per_firing: int | None = 256 << 20) -> bool:
    """Append-path auto-compaction (r15; pause BOUNDED r18,
    index-size-INDEPENDENT r19): every ``kept/`` bucket dir past
    ``max_files_per_bucket`` parquet files (appends grow one file per
    touched dir) qualifies; worst (most-fragmented) first, a firing
    selects buckets to rewrite until ``max_bytes_per_firing`` input
    bytes are reached (the worst bucket ALWAYS rewrites, so progress is
    guaranteed even when it alone exceeds the budget) or
    ``max_buckets_per_firing`` buckets, whichever binds first. The byte
    budget is the true I/O bound: a bucket-count cap alone prices a
    firing at ~cap x residents/num_buckets - still linear in index size
    at fixed fan-out (the r18 form) - while the byte budget holds the
    firing's REWRITE BYTES flat at ANY resident count (the wall, with
    the r20 parallel rewrite, tracks the largest selected bucket's
    bytes over cores - SCALING.md r20); overflow buckets keep their files
    and lead the next firing, so the amortized cost is unchanged (a
    budget below the append rate just carries fragmentation debt
    forward - SCALING.md r19 sizing note). The r17-measured unbounded
    form paid O(residents) in-line: 210.9 s vs a 41-45 s flat band at
    2.8M residents. REWRITE bytes are what the budget bounds; the
    walk/hardlink/swap metadata overhead still scales with TOTAL file
    count (carried fragmentation debt), so size the budget >= the
    append rate per trigger to keep that term flat too (r19 ADVICE).
    All selected buckets rewrite in ONE Spark job (r20): read the
    selected ``bkt=`` dirs under a shared basePath, shuffle once on the
    partition column, ``partitionBy`` into the replacement tree - one
    file per bucket falls out of hash-partitioning on ``bkt``, and the
    per-firing fixed cost stops scaling with the bucket cap (the r19
    form submitted up to ``max_buckets_per_firing`` sequential
    coalesce(1) jobs, ~3 s of scheduler overhead at 16 buckets).
    Buckets NOT selected hardlink into the replacement tree
    (O(1) metadata per file, zero byte copy - tmp is a same-FS sibling),
    preserving the whole-tree two-rename swap and ``_heal_kept_swap``'s
    exact state machine: the replacement tree is COMPLETE before the
    first rename, every torn state rolls forward or back, admit parity
    pytest-pinned. Local-FS policy under that function's
    one-process-per-index_dir contract (the 100 TB form is metastore
    OPTIMIZE, which bounds the same way: byte-budgeted file-group
    rewrite). Returns True iff a compaction ran."""
    import os
    import shutil

    validate_compact_knobs(max_buckets_per_firing, max_bytes_per_firing)
    _heal_kept_swap(index_dir)
    kept = os.path.join(index_dir, "kept")
    if not os.path.isdir(kept):  # non-local index dir: policy no-ops
        return False
    buckets = {os.path.relpath(r, kept): pq for r, _, fs in os.walk(kept)
               if (pq := [f for f in fs if f.endswith(".parquet")])}
    over = sorted((b for b in buckets if len(buckets[b]) > max_files_per_bucket),
                  key=lambda b: (-len(buckets[b]), b))
    if not over:
        return False
    rewrite, spent = set(), 0
    for b in over[:max_buckets_per_firing]:
        if rewrite and max_bytes_per_firing is not None \
                and spent >= max_bytes_per_firing:
            break  # budget spent: the rest keep their files, lead next firing
        rewrite.add(b)
        spent += sum(os.path.getsize(os.path.join(kept, b, f))
                     for f in buckets[b])
    tmp, old = kept + "__compact", kept + "__old"
    # ONE job for every selected bucket (both kept/ writers guarantee the
    # single-level bkt= Hive layout): basePath recovers bkt as a partition
    # column, the hash shuffle on it puts each bucket in one task, and
    # partitionBy re-emits the same bkt= dirs - one file per bucket.
    spark.read.option("basePath", kept).parquet(
        *(os.path.join(kept, b) for b in sorted(rewrite))
    ).repartition("bkt").write.mode("overwrite").partitionBy(
        "bkt").parquet(tmp)
    for b, fs in buckets.items():
        if b in rewrite:
            continue
        src, dst = os.path.join(kept, b), os.path.join(tmp, b)
        os.makedirs(dst, exist_ok=True)
        for f in fs:
            os.link(os.path.join(src, f), os.path.join(dst, f))
    os.rename(kept, old)  # swap; a real lakehouse swaps via metastore
    os.rename(tmp, kept)
    shutil.rmtree(old)
    return True


def lsh_dedup_incremental(
    batch: DataFrame, index_dir: str, text_col: str = "text",
    min_jaccard: float | None = None, update_index: bool = True,
    compact_files_per_bucket: int | None = 8,
    compact_buckets_per_firing: int = 128,
    compact_bytes_per_firing: int | None = 256 << 20,
) -> DataFrame:
    """Batch-over-time near-dup text dedup (the r13 mirror of
    ``semantic_dedup_incremental``): admit only batch docs that verify as
    near-dups of NO kept (index) survivor and NO lower-id doc of the same
    batch. The seen-set is FIXED - a survivor is never re-dropped, even by a
    lower-id arrival (the documented divergence from one-shot min-id; under
    id-order arrival the two coincide, pytest-pinned). Per-batch cost is
    O(batch x bucket-residents), never a corpus rescan: (a) ONE materialized
    batch pass computes band buckets + shingle sets, (b) the probe dir-prunes
    to the batch's bkt values at ANY breadth (partition-column isin: resolved
    at file listing, so dense batches pay touched dirs, never a whole scan),
    (c) candidates = band-bucket equi-join, verified by exact Jaccard on the
    inline shingle sets (never all-pairs), (d) admitted survivors' rows
    append, and the layout self-heals: any bucket dir past
    ``compact_files_per_bucket`` files auto-compacts, pause bounded to
    ``compact_bytes_per_firing`` input bytes of worst-first bucket
    rewrites, at most ``compact_buckets_per_firing`` buckets
    (``_maybe_compact_kept``; None disables).
    ``min_jaccard``/``shingle_n`` default from the build meta; a
    contradiction raises."""
    spark = batch.sparkSession
    meta = _read_meta(spark, index_dir)
    if meta is None:  # LSH indexes ALWAYS carry meta (no pre-r13 layout
        raise ValueError(  # exists): absent meta = not a built index.
            f"{index_dir}/meta is missing: not an lsh_index_build index "
            "(num_buckets/shingle_n must come from the build)")
    min_jaccard = _resolve_meta(meta, {"min_jaccard": min_jaccard},
                                {"min_jaccard": 0.5})["min_jaccard"]
    shingle_n, nb = int(meta["shingle_n"]), int(meta["num_buckets"])
    _heal_kept_swap(index_dir)  # a torn compaction swap repairs before the read
    with query_scope():  # materialized: the sets release right away
        bt = pin(_lsh_rows(batch, text_col, shingle_n, nb), "checkpoint", outer=True)
    # probed dirs: bounded by min(num_buckets, |batch| x bands)
    bkts = sorted(r[0] for r in bt.select("bkt").distinct().collect())
    seen = spark.read.schema(  # fixed layout: no footer read at planning
        "doc_id long, band int, bucket string, sh array<string>, bkt int"
    ).parquet(f"{index_dir}/kept").where(F.col("bkt").isin(bkts))
    # ^ ALWAYS dir-prune (r16): bkt is the partition column - the isin
    # resolves per-DIRECTORY at listing, never per row (the r15 fallback
    # priced it as a row filter). Lossless: equal (band,bucket) => equal bkt.
    hit_seen = (  # seen survivors drop batch docs regardless of id order
        seen.select("band", "bucket", F.col("sh").alias("sh_s"))
        .join(bt.select("band", "bucket", "doc_id", "sh"), ["band", "bucket"])
        .where(_jaccard(F.col("sh_s"), F.col("sh")) >= min_jaccard).select("doc_id"))
    hit_batch = (  # min-id rule within the batch (dropped docs still drop)
        bt.select(F.col("doc_id").alias("doc_a"), "band", "bucket",
                  F.col("sh").alias("sh_a"))
        .join(bt.select("band", "bucket", "doc_id", "sh"), ["band", "bucket"])
        .where((F.col("doc_a") < F.col("doc_id")) & (_jaccard(
            F.col("sh_a"), F.col("sh")) >= min_jaccard)).select("doc_id"))
    admitted = pin(batch.select("doc_id").join(  # shingle-less docs admit too
        hit_seen.unionByName(hit_batch).distinct(),
        "doc_id", "left_anti"), "checkpoint")
    if update_index:  # advance the seen-set: append survivors' rows
        bt.join(admitted, "doc_id", "left_semi").repartition("bkt").write.mode(
            "append").partitionBy("bkt").parquet(f"{index_dir}/kept")
        if compact_files_per_bucket is not None:
            _maybe_compact_kept(spark, index_dir, compact_files_per_bucket,
                                compact_buckets_per_firing,
                                compact_bytes_per_firing)
    admitted.lsh_rows = bt  # share the materialized batch pass (r17): the
    return admitted  # sink's lsh_index_member reuses it - one pass per epoch


def lsh_index_member(batch: DataFrame, index_dir: str,
                     text_col: str = "text",
                     lsh_rows: DataFrame | None = None) -> DataFrame:
    """Replay-deterministic admitted set for a batch ALREADY applied to the
    index: batch ids RESIDENT in ``kept/`` plus band-less docs (too short to
    shingle - they always admit but never enter the index). Equals
    ``lsh_dedup_incremental``'s return once the batch's append landed, at ANY
    crash/replay point - the streaming sink derives its per-epoch output from
    this, never from the probe's return value, which collapses to
    band-less-only when a replayed batch re-probes the index it has already
    advanced (every survivor then self-matches at Jaccard 1.0). Cost: a
    dir-pruned id scan, plus one batch LSH pass UNLESS ``lsh_rows`` hands in
    the probe's already-materialized pass (r17: ``lsh_dedup_incremental``
    exposes it as ``admitted.lsh_rows``, so a fresh sink epoch pays the
    pass once; a replayed epoch has no live probe and recomputes). Ids
    globally unique across batches (the incremental contract)."""
    spark = batch.sparkSession
    meta = _read_meta(spark, index_dir)
    if meta is None:
        raise ValueError(f"{index_dir}/meta is missing: not a built index")
    _heal_kept_swap(index_dir)  # like every kept/ reader (r16 review)
    if lsh_rows is not None:
        ids = lsh_rows.select("doc_id", "bkt")  # shared pass: already pinned
    else:  # r17 ADVICE: recompute pins the NARROW (doc_id, bkt) form -
        with query_scope():  # - never the wide sets
            ids = pin(_lsh_rows(batch, text_col, int(meta["shingle_n"]),
                                int(meta["num_buckets"])).select("doc_id", "bkt"),
                      "checkpoint", outer=True)
    bkts = sorted(r[0] for r in ids.select("bkt").distinct().collect())
    kept_ids = spark.read.schema(
        "doc_id long, band int, bucket string, sh array<string>, bkt int"
    ).parquet(f"{index_dir}/kept").where(
        F.col("bkt").isin(bkts)).select("doc_id")
    return batch.select("doc_id").join(
        kept_ids, "doc_id", "left_semi").unionByName(
        batch.select("doc_id").join(ids, "doc_id", "left_anti"))


def connected_components(
    pairs: DataFrame, max_iterations: int = 20, id_a: str = "doc_a",
    id_b: str = "doc_b", checkpoint_dir: str | None = None,
) -> DataFrame:
    """Dedup clustering: connected components over near-dup pairs.

    Iterative min-label propagation (the standard large-graph CC on a
    relational engine): every node starts labeled with itself; each
    round joins labels across edges and keeps the minimum; stop when a
    round changes nothing. Rounds needed = graph diameter (dup
    clusters are near-cliques, so 2-3 in practice); each round is two
    shuffles (edge join + min agg), checkpointed so lineage stays flat.

    Checkpoint tradeoff: default ``localCheckpoint`` pins label blocks
    to executors (no extra I/O, but one executor loss kills the run -
    fine locally); on a cluster pass ``checkpoint_dir`` for reliable
    HDFS/S3 checkpoints. At 100 TB always set it. The label rounds pin
    into the caller's ``query_scope``; the edges live for this call only
    (labels are checkpointed: their lineage no longer needs the edges).

    Returns (doc_id, component) with component = min doc_id reachable.
    """
    with query_scope():
        edges = pin(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
            .distinct()
        )
        labels = pin(
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("component", F.col("doc_id")),
            "checkpoint", checkpoint_dir=checkpoint_dir, outer=True)
        for _ in range(max_iterations):
            # own label plus every neighbor's label; the own-label rows also
            # CARRY the previous component (r21), so convergence reads off
            # the checkpointed round - no per-round new-vs-old label re-join.
            neighbor_labels = (
                edges.join(labels, edges.dst == labels.doc_id)
                .select(F.col("src").alias("doc_id"), F.col("component"),
                        F.lit(None).cast(labels.schema["component"].dataType)
                        .alias("_old")))
            new_labels = pin(
                labels.select("doc_id", "component",
                              F.col("component").alias("_old"))
                .unionByName(neighbor_labels)
                .groupBy("doc_id")
                .agg(F.min("component").alias("component"),
                     F.min("_old").alias("_old")),  # exactly one non-null per doc
                "checkpoint", checkpoint_dir=checkpoint_dir, outer=True)
            changed = (new_labels.where(F.col("component") != F.col("_old"))
                       .limit(1).count())  # checkpoint scan: no join, no shuffle
            labels = new_labels.select("doc_id", "component")
            if changed == 0:
                break
    return labels


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3, bits: int = 32,
) -> DataFrame:
    """X2 (SimHash family): near-dup pairs by fingerprint Hamming ball.

    Pigeonhole blocking: split the fingerprint into ``max_hamming + 1`` equal
    bit-bands - any pair within Hamming distance ``max_hamming`` must agree
    EXACTLY on at least one band, so the band-value equi-join finds every
    qualifying pair (no recall loss, unlike MinHash banding) and the verify
    step is one xor+popcount per candidate. Same shuffle discipline as the
    MinHash path: banding is a projection, pair generation is bucket-local.
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    fp = simhash(docs, text_col, bits)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.expr(
                            f"shiftright(simhash, {b * band_bits}) & {mask}"
                        ).alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select("doc_id", "simhash", F.col("_b.band").alias("band"), F.col("_b.bv").alias("bv"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "bv")
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "bv")
    cand = (
        a.join(b, ["band", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b").distinct())
    hamming = F.bit_count(F.expr("sim_a ^ sim_b")).cast("long")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming)


def _dropped_tri(V, Vn, ids, threshold: float, max_cell: int | None):
    """Lower-triangle SemDeDup mask over one position-ordered group:
    row i drops iff any EARLIER row scores cosine >= threshold; 1024-row
    blocks bound the BLAS gram; ``max_cell`` fuses the quantile ring
    split (``similarity.ring_tiles``) so only same-ring pairs compare.
    Shared by the one-shot and incremental (seen-rows-first) kernels."""
    import numpy as np

    from .similarity import ring_tiles

    n = len(ids)
    if max_cell is not None and n > max_cell:  # fused ring split
        tile = ring_tiles(ids, V, Vn, -(-n // max_cell))
        groups = [np.flatnonzero(tile == t) for t in range(tile.max() + 1)]
    else:
        groups = [np.arange(n)]
    dropped = np.zeros(n, dtype=bool)
    for idx in groups:
        W, Wn = V[idx], Vn[idx]
        for lo in range(0, len(idx), 1024):
            hi = min(lo + 1024, len(idx))
            # rows lo..hi compare against columns < hi only (triangle)
            S = (W[lo:hi] @ W[:hi].T) / np.outer(Wn[lo:hi], Wn[:hi])
            tri = np.arange(hi)[None, :] < np.arange(lo, hi)[:, None]
            dropped[idx[lo:hi]] = ((S >= threshold) & tri).any(axis=1)
    return dropped


def semantic_dedup(
    embeddings: DataFrame, num_cells: int | None = None, threshold: float = 0.40,
    id_col: str = "vec_id", vec_col: str = "embedding",
    checkpoint_dir: str | None = None, max_cell: int | None = None,
    transport: str = "float", codes_col: str | None = None,
    amax_col: str = "__amax",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column.

    Abbas et al. 2023: cluster the corpus (deterministic three-level
    IVF assignment, so the whole pipeline is oracle-checkable; k-means
    in production), then inside each cluster drop every vector with a
    lower-id neighbor at cosine >= ``threshold``. Returns KEPT
    (id, cell_id). ``num_cells=None`` derives C = max(8, n // 250):
    ~250-vector cells at any scale keep within-cell pairwise work
    linear in n (FIXED C is the measured 32x-for-10x quadratic wall,
    SCALING.md). ``max_cell`` (OPT-IN; the cap changes results -
    near-dup pairs straddling a ring boundary survive; 1000 = 4x the
    design cell at scale) bounds dense cells by FUSING the quantile
    ring split (``similarity.ring_tiles``) into the pairwise kernel -
    zero extra passes where the physical split regressed (SCALING.md
    r9); output keeps the PARENT cell, kept-set identical either way.

    ``transport="int8"`` quantizes SQ8 in the assign worker (numpy;
    the JVM-HOF form lost 17x, SCALING.md r10) and moves every later
    leg - cell shuffle, pairwise pipe - onto the int8 wire (~4x fewer
    bytes); assignment routes on the RAW codes (r15, scale-invariant,
    integer dots exact in float64), rings and pairwise cosines on the
    DEQUANTIZED values: deterministic, oracle-replayable bit-for-bit.
    The kept-set is the SQ8 corpus's, NOT float's - near-threshold
    cosine mass moves (2.6x fewer survivors on the synthetic x1000
    probe); use where dup cosines sit far above threshold (embedded
    text ~0.95+). ``codes_col`` (r11): the input IS ``sq8_encode``
    output - float never scanned, the INPUT leg rides the small wire
    too; kept-set bit-identical to ``transport="int8"`` (pinned).

    Scale: pairwise work only inside a cell - sum(cell^2), never n^2;
    ONE cell_id shuffle into ``applyInPandas``, row-blocked
    lower-triangle BLAS gram per cell (~50x faster per dot than the r7
    fold self-join). The kernel emits KEPT rows directly (r12; -1.3 s
    + one stage at 20M vs the dropped-ids + anti-join tail, bit-equal,
    pinned), so the assignment has ONE consumer and streams straight
    into the cell shuffle; pass ``checkpoint_dir`` on a cluster for
    reliable materialization. Threshold is corpus-calibrated: random
    vectors top out ~0.49 within-cell, text ~0.95+. The checkpoint and
    any assign broadcast pin into the caller's ``query_scope``.
    """
    import numpy as np

    from .similarity import _q8_mat, check_cap, ivf_assign

    max_cell = check_cap(max_cell)
    wire = transport == "int8" or codes_col is not None
    e = ivf_assign(embeddings, num_cells, id_col=id_col, vec_col=vec_col,
                   keep_vec=True, transport=transport,
                   codes_col=codes_col, amax_col=amax_col)
    if checkpoint_dir is not None:
        e = pin(e, "checkpoint", checkpoint_dir=checkpoint_dir)

    def keep_in_cell(pdf):
        pdf = pdf.sort_values(id_col, ignore_index=True)
        V = _q8_mat(pdf) if wire else np.stack(
            pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
        # greatest(norm, eps): zero vectors score cos 0 (kept), not NaN
        Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
        dropped = _dropped_tri(V, Vn, pdf[id_col].to_numpy(), threshold, max_cell)
        return pdf.loc[~dropped, [id_col, "cell_id"]]

    return e.groupBy("cell_id").applyInPandas(
        keep_in_cell, schema=f"{id_col} long, cell_id int")


def _write_meta(spark, index_dir: str, **params) -> None:
    """Persist index build parameters as a one-row parquet under
    ``{index_dir}/meta`` (filesystem-agnostic - no driver-local open)
    so probe time can default/validate against them. No ``coalesce(1)``
    (r21): it funneled 32 Python-RDD slices through ONE task's worker
    round-trips (6 s/call vs 0.6 s); empty partitions write no files,
    so the one-row write already lands exactly one part file."""
    spark.createDataFrame([tuple(params.values())], list(params)).write.mode(
        "overwrite").parquet(f"{index_dir}/meta")


def _read_meta(spark, index_dir: str):
    """Meta row, or None only when ``{index_dir}/meta`` does not EXIST
    (the pre-r13 semantic layout; explicit params apply). Any other
    read failure re-raises (r14): a corrupt/transiently-unreadable meta
    falling back to defaults would probe with the wrong modulus and
    silently admit duplicates - fail loud, never fail-open."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(f"{index_dir}/meta").first()
    except AnalysisException as e:
        # structured error condition, not message substring (r15 ADVICE:
        # wording differs across Spark versions; the class is the contract)
        cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        if cond == "PATH_NOT_FOUND":
            return None
        raise


def _resolve_meta(meta, explicit: dict, defaults: dict) -> dict:
    """Probe params vs build meta: None -> meta value (or the default
    when no meta); an explicit value CONTRADICTING the meta raises."""
    out = {}
    for k, dflt in defaults.items():
        v = explicit.get(k)
        if meta is not None:
            m = meta[k]
            if v is not None and v != m:
                raise ValueError(f"index built with {k}={m!r}, probed with {v!r}")
            out[k] = m
        else:
            out[k] = dflt if v is None else v
    return out


def semantic_index_build(
    embeddings: DataFrame, index_dir: str, num_cells: int | None = None,
    threshold: float = 0.40, id_col: str = "vec_id", vec_col: str = "embedding",
    max_cell: int | None = None,
) -> int:
    """Build + persist the incremental-SemDeDup index: one-shot
    ``semantic_dedup`` over the seed corpus on the SQ8 codes wire
    (``max_cell`` forwards: the fused ring cap, needed at 10M+), then
    write ``{index_dir}/centroids`` (routing codes), ``{index_dir}/
    kept`` (survivors' codes, partitioned by bkt = cell_id % 1024 -
    dir-pruned probes without a dir-per-cell listing wall, cell_id
    pushing down as a parquet row filter), and ``{index_dir}/meta``
    (build parameters, validated at probe time). Seed ids dense-from-0
    (the deterministic trainer's contract) - VALIDATED here so a bad
    seed fails the build, not the first probe. Returns num_cells."""
    from .similarity import sq8_encode

    with query_scope():  # codes + assign broadcast live for this call only
        codes = pin(sq8_encode(embeddings, id_col, vec_col), "checkpoint")
        if num_cells is None:
            n = codes.count()
            num_cells = max(1, min(max(8, n // 250), n))
        cents = codes.where(F.col(id_col) < num_cells)
        if cents.select(id_col).distinct().count() != num_cells:
            raise ValueError(
                f"seed ids must be dense from 0: need {num_cells} distinct "
                f"centroid rows with {id_col} < {num_cells}")
        kept = semantic_dedup(codes, num_cells, threshold, id_col=id_col,
                              codes_col="__q8", max_cell=max_cell)
        cents.select(
            F.col(id_col).cast("long").alias("cell_id"), "__q8", "__amax"
        ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
        codes.join(kept, id_col).select(
            F.col(id_col).cast("long").alias(id_col), "cell_id", "__q8", "__amax",
            (F.col("cell_id") % IDX_BUCKETS).alias("bkt"),
        ).repartition("bkt").write.mode(  # one file per bucket dir, not tasks x dirs
            "overwrite").partitionBy("bkt").parquet(f"{index_dir}/kept")
    _write_meta(embeddings.sparkSession, index_dir, threshold=threshold,
                num_cells=num_cells, id_col=id_col)
    return num_cells


def semantic_dedup_incremental(
    batch: DataFrame, index_dir: str, threshold: float | None = None,
    id_col: str | None = None, vec_col: str = "embedding",
    update_index: bool = True, checkpoint_dir: str | None = None,
    codes_col: str | None = None, amax_col: str = "__amax",
    compact_files_per_bucket: int | None = 8,
    compact_buckets_per_firing: int = 128,
    compact_bytes_per_firing: int | None = 256 << 20,
) -> DataFrame:
    """Batch-over-time SemDeDup: admit only batch vectors NOT within
    ``threshold`` of a kept (index) vector or an earlier (lower-id) vector of
    the same batch - the seen-set is FIXED (a survivor is never re-dropped,
    even by a lower-id arrival). Per-batch cost is O(batch x cell-residents),
    never O(corpus^2), never a corpus rescan: (a) encode the batch to SQ8
    codes (or take them straight off disk via ``codes_col`` - the ingest
    layout, float never read), (b) assign via the saved centroid codes (one
    narrow mapInPandas), (c) probe ONLY the cells the batch routed to -
    ``kept/`` is partitioned by bkt = cell_id % 1024, so the bucket isin
    dir-prunes at ANY breadth; cell row-pruning is a literal isin when
    sparse (rides row-group stats, test-pinned) and a broadcast semi-join
    when the batch routes to most of C (r16: never a whole scan), (d) the
    kernel sorts seen rows first and reuses the lower-triangle gram; admitted
    survivors' codes append to the index. Ids globally unique across batches
    (monotone ingest = the one-shot min-id rule, equality pinned).
    ``threshold``/``id_col`` default (``None``) from the index's build meta
    ('vec_id' for a pre-r13 meta-less index); an EXPLICIT value contradicting
    the meta raises - incl. an explicit 'vec_id' vs a differently-keyed index
    (r14: None is the from-meta sentinel, not the string default). The
    append path self-heals its layout like the LSH twin (r15):
    ``compact_files_per_bucket`` gates ``_maybe_compact_kept``;
    ``compact_bytes_per_firing``/``compact_buckets_per_firing`` bound
    each firing's rewrite slice."""
    import numpy as np

    from .similarity import _q8_mat, assign_cells, sq8_encode

    spark = batch.sparkSession
    _heal_kept_swap(index_dir)  # torn compaction swap repairs pre-read
    cents = spark.read.parquet(f"{index_dir}/centroids")
    meta = _read_meta(spark, index_dir)  # defaults below; contradiction raises
    p = _resolve_meta(meta, {"threshold": threshold, "id_col": id_col},
                      {"threshold": 0.40, "id_col": "vec_id"})
    threshold, id_col = p["threshold"], p["id_col"]
    num_cells = meta["num_cells"] if meta is not None else cents.count()
    codes = (batch.select(id_col, F.col(codes_col).alias("__q8"),
                          F.col(amax_col).alias("__amax"))
             if codes_col is not None else sq8_encode(batch, id_col, vec_col))
    assigned = pin(assign_cells(codes, cents, num_cells, id_col=id_col,
                                keep_vec=True, codes_col="__q8"),
                   "checkpoint", checkpoint_dir=checkpoint_dir)
    # probed cells: bounded by min(C, |batch|) - an index-scale collect
    cells = sorted(r[0] for r in assigned.select("cell_id").distinct().collect())
    kept = spark.read.schema(  # fixed layout: no footer read at planning
        f"{id_col} long, cell_id int, __q8 binary, __amax double, bkt int"
    ).parquet(f"{index_dir}/kept")
    kept = kept.where(  # dir-prune at ANY breadth (partition-column isin)
        F.col("bkt").isin(sorted({c % IDX_BUCKETS for c in cells})))
    if len(cells) * 2 <= num_cells:  # sparse batch: literal isin also rides
        kept = kept.where(F.col("cell_id").isin(cells))  # row-group stats
    else:  # dense batch (r16, replacing the r13 whole-scan fallback): a
        # broadcast-hash semi-join row-prunes untouched cells at the scan
        # for any |cells| - the old path read AND shuffled O(index) rows
        kept = kept.join(F.broadcast(spark.createDataFrame(
            [(int(c),) for c in cells], "cell_id int")), "cell_id", "left_semi")
    both = kept.select(id_col, F.col("cell_id").cast("int").alias("cell_id"),
                       "__q8", "__amax", F.lit(1).alias("__seen")).unionByName(
        assigned.select(id_col, "cell_id", "__q8", "__amax",
                        F.lit(0).alias("__seen")))

    def keep_new_in_cell(pdf):
        # every group holds >=1 batch row: kept is pruned to batch cells
        pdf = pdf.sort_values(["__seen", id_col], ascending=[False, True],
                              ignore_index=True)
        V = _q8_mat(pdf)
        Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
        dropped = _dropped_tri(V, Vn, pdf[id_col].to_numpy(), threshold, None)
        return pdf.loc[~dropped & (pdf["__seen"].to_numpy() == 0),
                       [id_col, "cell_id"]]

    admitted = pin(both.groupBy("cell_id").applyInPandas(
        keep_new_in_cell, schema=f"{id_col} long, cell_id int"), "checkpoint")
    if update_index:  # advance the seen-set: append survivors' codes
        assigned.join(admitted, id_col, "left_semi").select(
            id_col, "cell_id", "__q8", "__amax",
            (F.col("cell_id") % IDX_BUCKETS).alias("bkt"),
        ).repartition("bkt").write.mode(
            "append").partitionBy("bkt").parquet(f"{index_dir}/kept")
        if compact_files_per_bucket is not None:
            _maybe_compact_kept(spark, index_dir, compact_files_per_bucket,
                                compact_buckets_per_firing,
                                compact_bytes_per_firing)
    admitted.assigned_cells = assigned  # share the materialized assign pass
    return admitted  # (r17): the sink's semantic_index_member reuses it


def semantic_index_member(batch: DataFrame, index_dir: str,
                          id_col: str | None = None,
                          vec_col: str = "embedding",
                          codes_col: str | None = None,
                          amax_col: str = "__amax",
                          assigned: DataFrame | None = None) -> DataFrame:
    """Replay-deterministic admitted set for a batch ALREADY applied to the
    semantic index (the ``lsh_index_member`` analog): batch ids RESIDENT in
    ``kept/``, found via a bkt-dir-pruned scan of only the cells the batch
    routed to. Every vector is assignable - there is no band-less analog -
    so residency IS the whole set. Equals ``semantic_dedup_incremental``'s
    return once the batch's append landed, at ANY crash/replay point: a
    replayed probe re-sees its own survivors at cosine 1.0 and collapses
    to empty, which membership rescues. ``assigned`` reuses the probe's
    materialized assignment (``admitted.assigned_cells`` - one assign pass
    per fresh sink epoch); a replayed epoch recomputes from the centroids."""
    from .similarity import assign_cells, sq8_encode

    spark = batch.sparkSession
    meta = _read_meta(spark, index_dir)
    id_col = _resolve_meta(meta, {"id_col": id_col},
                           {"id_col": "vec_id"})["id_col"]
    _heal_kept_swap(index_dir)  # like every kept/ reader
    if assigned is None:
        cents = spark.read.parquet(f"{index_dir}/centroids")
        num_cells = meta["num_cells"] if meta is not None else cents.count()
        codes = (batch.select(id_col, F.col(codes_col).alias("__q8"),
                              F.col(amax_col).alias("__amax"))  # r17 ADVICE:
                 # amax_col threads like codes_col (was a '__amax' hardcode)
                 if codes_col is not None else sq8_encode(batch, id_col, vec_col))
        assigned = pin(assign_cells(codes, cents, num_cells, id_col=id_col,
                                    codes_col="__q8"), "checkpoint")
    cells = sorted(r[0] for r in assigned.select("cell_id").distinct().collect())
    kept_ids = spark.read.schema(  # fixed layout: no footer read at planning
        f"{id_col} long, cell_id int, __q8 binary, __amax double, bkt int"
    ).parquet(f"{index_dir}/kept").where(
        F.col("bkt").isin(sorted({c % IDX_BUCKETS for c in cells}))
    ).select(id_col)
    return batch.select(id_col).join(kept_ids, id_col, "left_semi")
