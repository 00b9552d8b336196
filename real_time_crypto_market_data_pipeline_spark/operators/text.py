"""Text-analysis operators for large-scale training-data pipelines (SURVEY 2.7 X4).

Tokenization, shingling, language-ID heuristics, quality scoring,
token counting, and document fingerprinting over a ``documents`` table
(doc_id, text, ...). All operators are built-in column expressions -
no Python UDFs - so at 100 TB they run entirely inside whole-stage
codegen on the scan stage, shuffling only the (token -> count) style
aggregates, which are map-side combined before the exchange.

Portability: hashing uses ``md5`` (identical across Spark / DuckDB /
every engine) rather than Spark's murmur3 ``hash``, so every operator
here has an exact cross-engine oracle.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_for_fanout(
    df: DataFrame, key: str = "doc_id", min_bytes: int = 0
) -> DataFrame:
    """Repartition a compact table before a high-fanout explode.

    A single medium-size parquet file arrives as one scan partition;
    exploding shingles x seeds multiplies rows ~100-400x, so the
    fan-out is stuck with the scan's parallelism. Hash-repartitioning
    the compact side first sizes partitions for the post-explode
    OUTPUT volume - the sizing rule that matters at 100 TB. Skipped
    when the input is already shuffle-width (a big table's scan is
    naturally wide).

    ``min_bytes`` additionally skips the spread when the input's
    estimated size (optimized-plan statistics) is below it. Whether
    that pays depends on the COMPUTE DENSITY of the fan-out, so the
    default is 0 (always spread a narrow input) and each call site
    chooses. Measured at 594 KB / 1 partition (r6, SCALING.md "Bench
    drift A/B"): cheap-per-row token_stats is 0.45 s unspread vs
    0.68 s spread (stage barrier dominates), so it passes 2 MB (r21:
    at 6.1 MB the unspread form LOSES 2.9x - crossover bracketed); the
    minhash/shingle/n-gram operators are 3-6x SLOWER single-partition
    even at this size and keep the unconditional default.
    """
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # exact physical width via the JVM internal-row RDD (r21: df.rdd
    # also built the javaToPython plan; 42 -> 32 ms/call). A stats-only
    # gate was rejected: size estimates cannot see a CALLER's existing
    # repartition, so it would stack the second exchange test_plans
    # pins against. Already-wide inputs reuse this QueryExecution.
    try:
        width = df._jdf.queryExecution().toRdd().getNumPartitions()
    except (Py4JError, AttributeError):  # private API gone: the public width
        width = df.rdd.getNumPartitions()
    if width >= target:
        return df
    if min_bytes > 0:
        try:
            # py4j auto-converts the BigInteger to a Python int
            est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:  # stats unavailable: keep the conservative spread
            est = None
        if est is not None and est < min_bytes:
            return df
    return df.repartition(target, F.col(key))

# A tiny embedded English stopword list - enough for ratio features and
# the language vote; deliberately small so the SQL oracle can inline it.
STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")


def tokens_col(text_col: Column) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(F.lower(text_col), " "), lambda t: t != "")


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles: tokens[i..i+n-1] joined by spaces.

    Expressed as ``transform(sequence(...))`` so the whole shingle set
    materializes as one array column - no explode until the consumer
    needs rows. Documents shorter than n yield an empty array.
    """
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """X4: global token frequency + document frequency.

    explode -> groupBy(token) is the canonical word-count; partial
    aggregation makes the shuffle proportional to vocabulary size, not
    corpus size - the right shape at 100 TB.
    """
    # spread crossover re-measured r21: unspread wins at 594 KB (r6,
    # 0.45 vs 0.68 s) but LOSES 2.9x at 6.1 MB (2.10 vs 0.71 s, x10
    # corpus) - the old 8 MB gate sat above the crossover and left the
    # x10 fan-out on one task. 2 MB preserves both measured winners.
    toks = spread_for_fanout(docs, min_bytes=2 << 20).select(
        F.col("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("token"))
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"))


def bpe_ish_token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """X4: regex token counting (BPE-ish: letter runs / digit runs / other).

    ``regexp_extract_all`` with a class-based pattern approximates a
    byte-pair tokenizer's pre-tokenization split; counting happens on
    the array length, no explode needed.
    """
    pieces = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z]+|[0-9]+"), F.lit(0)
    )
    return docs.select(
        "doc_id", F.size(pieces).cast("long").alias("n_pieces"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_measured"))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """X4: stopword-vote language heuristic.

    Real LID uses char n-gram profiles; the deterministic, SQL-portable
    core is the same shape: per-doc feature ratios -> threshold vote.
    Emits the predicted label and the stopword ratio evidence.
    """
    toks = tokens_col(F.col(text_col))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n = F.size(toks)
    ratio = F.when(n > 0,
                   stop_hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id", ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"))


def quality_score(
    docs: DataFrame, text_col: str = "text", keep_cols: tuple = ()
) -> DataFrame:
    """X4: heuristic document-quality features + composite score.

    Features mirror the standard pretraining-data filters: length,
    mean token length, stopword ratio, non-alpha character ratio.
    ``keep_cols`` pass through so downstream stages (q_corpus_prep)
    compose on ONE scan instead of joining the scores back.
    """
    t = F.col(text_col)
    toks = tokens_col(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    alpha_chars = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    mean_tok_len = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha_chars.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    score = (
        F.least(n_tok.cast("double") / 64.0, F.lit(1.0)) * 0.4
        + alpha_ratio * 0.4
        + F.least(stop_ratio * 10.0, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        *keep_cols,
        n_tok.cast("long").alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition filters: duplicate n-gram fractions.

    The standard pretraining-quality signals the simple length/ratio features
    miss: boilerplate and spam repeat themselves. Per doc:

    - ``dup_unigram_frac`` / ``dup_bigram_frac`` / ``dup_trigram_frac``: 1 -
      distinct/total n-grams (fraction of n-gram slots occupied by repeats);
    - ``top_unigram_frac``: share of the single most frequent token;
    - ``repetitive``: the composite gate (Gopher-style thresholds).

    Shape for 100 TB: ONE scan explodes all three n-gram orders tagged with
    ``n`` (array concat before explode, so no re-scan per order), then two
    keyed aggregations - (doc, n, gram) counts and (doc, n) rollup - both
    map-side combined, followed by a conditional-agg pivot. Never the per-doc
    O(tokens^2) array self-scan a ``transform(filter(...))`` formulation would
    cost on a 100k-token document.
    """
    toks = tokens_col(F.col(text_col))

    def tagged(arr: Column, n: int) -> Column:
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))
        )

    grams = (
        spread_for_fanout(docs)
        .select(
            "doc_id",
            F.explode(
                F.concat(
                    tagged(toks, 1),
                    tagged(word_shingles(toks, 2), 2),
                    tagged(word_shingles(toks, 3), 3),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    per_gram = grams.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    per_n = per_gram.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top"),
    )

    def pick(n: int, col: str) -> Column:
        return F.max(F.when(F.col("n") == n, F.col(col)))

    def dup_frac(n: int) -> Column:
        return F.coalesce(
            F.lit(1.0)
            - pick(n, "n_distinct").cast("double") / pick(n, "total").cast("double"),
            F.lit(0.0),
        )

    top_uni = F.coalesce(
        pick(1, "top").cast("double") / pick(1, "total").cast("double"), F.lit(0.0)
    )
    return per_n.groupBy("doc_id").agg(
        pick(1, "total").cast("long").alias("n_tokens"),
        dup_frac(1).alias("dup_unigram_frac"),
        dup_frac(2).alias("dup_bigram_frac"),
        dup_frac(3).alias("dup_trigram_frac"),
        top_uni.alias("top_unigram_frac"),
        ((dup_frac(2) > 0.4) | (top_uni > 0.2)).alias("repetitive"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """X4: document fingerprints - whole-text hash + min-shingle hash.

    ``fp_text`` is the exact-dup fingerprint (md5 of the
    whitespace-normalized lowercased text); ``fp_min_shingle`` is a
    1-permutation MinHash (the winnowing-style representative shingle),
    stable under content reordering-free edits. A compact input
    spreads first (r20): the text family's heaviest projection must
    not run one-partition (5.8x at sf0.1, 15x at x10 - see
    OPTIMIZATION_r20.md; wide scans skip, so at 100 TB it is a no-op).
    """
    docs = spread_for_fanout(docs)
    norm = F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    toks = tokens_col(F.col(text_col))
    sh = word_shingles(toks, shingle_n)
    min_sh = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_text"),
        F.coalesce(min_sh, F.md5(norm)).alias("fp_min_shingle"),
    )


def tf_idf(docs: DataFrame, text_col: str = "text", top_per_doc: int = 5) -> DataFrame:
    """X4: TF-IDF via joins/aggs - the canonical two-pass text weighting.

    tf(d, t) = count of t in d; idf(t) = ln(N / df(t)); top terms per
    doc via WindowGroupLimit. Both shuffles (by token for df, by doc
    for top-k) are map-side combined; the doc-count N rides along as a
    broadcast-sized cross join.
    """
    from pyspark.sql import Window

    toks = spread_for_fanout(docs).select(
        F.col("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_per_doc)
        .select("doc_id", "token", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Training-data chunking: split docs into overlapping token windows.

    chunk i covers tokens [i*stride, i*stride + chunk_tokens); stride =
    chunk_tokens - overlap. All array expressions - the explode is the
    only row-count change, and chunk text is re-materialized from the
    token slice (no O(n^2) substring scanning).
    """
    stride = chunk_tokens - overlap
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= 0, 0).otherwise(
        F.floor((F.greatest(n - chunk_tokens, F.lit(0)).cast("double")) / stride).cast("int") + 1
    )
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1))
    chunked = docs.where(n > 0).select(
        "doc_id", toks.alias("_toks"), idx.alias("chunk_id")
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("chunk_len"),
    )


def pack_sequences(
    chunks: DataFrame,
    budget_tokens: int = 64,
    num_buckets: int = 16,
    len_col: str = "chunk_len",
) -> DataFrame:
    """Pack chunks into fixed-token-budget training sequences (bins).

    The batching step between chunking and training: concatenate chunks until
    a sequence budget fills, start the next bin. True first-fit is inherently
    sequential, so the distributed form hashes chunks into ``num_buckets``
    independent packing streams (packing parallelizes; a single global running
    sum would serialize the corpus) and streams each bucket in deterministic
    (doc_id, chunk_id) order: ``bin = cum_tokens_before DIV budget``. A bin
    can overflow by at most one boundary-crossing chunk - the standard
    streaming approximation. The bucket hash is md5-derived (engine-portable,
    like corpus_split), so the assignment is reproducible everywhere.

    One exchange on ``bucket`` serves the only window; at 100 TB pick
    num_buckets ~ cluster parallelism and each stream stays in one task's sort
    buffer.
    """
    from pyspark.sql import Window

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("chunk_id"))), 1, 6
            ),
            16,
            10,
        ).cast("bigint")
        % num_buckets
    ).cast("int")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        chunks.withColumn("bucket", bucket)
        .withColumn(
            "cum_before",
            F.coalesce(F.sum(len_col).over(w), F.lit(0).cast("bigint")),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.col(len_col).cast("long").alias(len_col),
            "bucket",
            F.expr(f"cum_before DIV {budget_tokens}").cast("long").alias("bin"),
        )
    )


def corpus_split(
    docs: DataFrame,
    text_col: str = "text",
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/validation split by content hash.

    split = 'val' iff the first 6 hex digits of md5(text) mod 100 fall
    below val_pct - reproducible across runs, engines, and cluster
    sizes, and duplicate documents always land in the same split
    (leakage-safe by construction). No RNG state, no seed plumbing.
    """
    bucket = F.conv(F.substring(F.md5(F.col(text_col)), 1, 6), 16, 10).cast(
        "bigint"
    ) % 100
    return docs.select(
        "doc_id",
        bucket.cast("int").alias("hash_bucket"),
        F.when(bucket < val_pct, "val").otherwise("train").alias("split"),
    )


def scrub_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII-style scrubbing: emails, long digit runs, URLs -> typed tags.

    Standard pretraining hygiene pass as pure regexp_replace chains
    (codegen'd, zero Python). Patterns are deliberately simple and
    portable; production would extend the list, not the mechanism.
    A compact input spreads first (r20; numbers: OPTIMIZATION_r20.md).
    """
    docs = spread_for_fanout(docs)
    t = F.col(text_col)
    t = F.regexp_replace(t, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>")
    t = F.regexp_replace(t, "https?://[^ ]+", "<URL>")
    t = F.regexp_replace(t, "[0-9]{6,}", "<NUM>")
    return docs.select(
        "doc_id",
        t.alias("clean_text"),
        (F.length(F.col(text_col)) - F.length(t)).cast("long").alias("bytes_removed"),
    )


def temperature_mix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-flattened source mixing (T=2): downsample big sources.

    The multilingual-pretraining mixing rule (sample sources
    proportional to n^(1/T) instead of n): with T=2 every source's
    keep-rate is sqrt(n_min / n_source) - the smallest source keeps
    100%, a source 4x its size keeps 50%, flattening the source
    distribution toward uniform without upsampling. Membership is a
    deterministic md5-bucket test against floor(rate * 16^6), so the
    sample is a pure function of content, stable under repartitioning.

    T is pinned to 2 so the rate is a single IEEE-754 ``sqrt`` of one
    division - both correctly rounded, so any IEEE-double engine (the
    DuckDB oracle included) computes a bit-identical threshold; a
    general pow(x, 1-1/T) is only 1-ulp-accurate across engines.

    Scale: the per-source census is a ~|sources|-row aggregate
    (map-side combined), broadcast back onto the corpus; the filter
    itself is codegen'd in the scan stage. No corpus-sized shuffle.
    """
    thresholds = mix_thresholds(docs, source_col=source_col)
    return apply_mix(docs, thresholds, source_col=source_col, text_col=text_col)


def mix_thresholds(docs: DataFrame, source_col: str = "source") -> DataFrame:
    """The census half of ``temperature_mix``: per-source md5-bucket
    keep-thresholds, floor(sqrt(n_min / n_source) * 16^6).

    Split out so the thresholds can be materialized once and reused -
    in particular broadcast into a STREAMING ingest filter
    (``apply_mix`` on a stream), where the census must come from a
    batch pass (a global census is not computable inside an unbounded
    stream)."""
    from pyspark.sql.window import Window

    counts = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_source")
    )
    # n_min via an unpartitioned window over the |sources|-row census -
    # the census subtree is computed ONCE (a cross-join against a
    # separate min-aggregate would make Catalyst scan the corpus again)
    n_min = F.min("n_source").over(Window.partitionBy())
    rate = F.sqrt(n_min.cast("double") / F.col("n_source").cast("double"))
    return counts.select(
        source_col,
        F.floor(rate * F.lit(16777216.0)).cast("bigint").alias("thr"),
    )


def apply_mix(
    docs: DataFrame,
    thresholds: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The filter half of ``temperature_mix``: keep a doc iff its md5
    bucket clears its source's threshold. Pure row-local predicate
    after the broadcast join - works identically on a batch frame or
    a streaming microbatch (stateless stream-static join). On a stream
    the static census is re-evaluated every microbatch, so refreshing
    the materialized census in place retunes the mix on the next
    trigger without a restart."""
    bucket = F.conv(F.substring(F.md5(F.col(text_col)), 1, 6), 16, 10).cast("bigint")
    return (
        docs.join(F.broadcast(thresholds), source_col)
        .where(bucket < F.col("thr"))
        .select("doc_id", source_col)
    )


def boilerplate_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Cross-document boilerplate detection: per-doc repeated-n-gram ratio.

    A shingle is *boilerplate* when it occurs in >= ``min_docs``
    distinct documents (headers, footers, license blurbs, template
    text). Emits one row per document with its distinct-shingle count,
    how many of those are boilerplate, and the ratio - the standard
    drop/trim signal (RefinedWeb-style) one thresholds during corpus
    cleaning. Complements repetition_stats, which is *within*-doc.

    Scale: one explode + distinct (shuffle keyed on (doc, shingle)),
    one shingle-keyed count (map-side combined). The boilerplate set
    itself is tiny by construction (only shingles crossing the
    ``min_docs`` document-frequency bar survive), so membership comes
    back as a broadcast left-join flag and n_shingles + n_boiler fall
    out of ONE doc-keyed aggregation - not two parallel agg branches,
    which would re-explode the corpus a third time. At 100 TB the one
    remaining recompute (dsh feeds both the DF census and the flag
    join) is the cache/persist point; the DF count itself is the same
    aggregation a TF-IDF pass already runs. No pairwise work anywhere.
    """
    # explode_outer keeps shingle-less docs (< shingle_n tokens) as a
    # null-shingle row, so they flow through the doc-keyed aggregate
    # with zero counts instead of needing a third corpus scan to
    # restore them via a left join (lineage duplication re-executes
    # the source per use - same lesson as q_semdedup/q_interval_join).
    # spread first (r20): 2.9x at sf0.1, 7x at x10 (OPTIMIZATION_r20.md)
    docs = spread_for_fanout(docs)
    dsh = (
        docs.select(
            "doc_id",
            F.explode_outer(
                word_shingles(tokens_col(F.col(text_col)), shingle_n)
            ).alias("shingle"),
        )
        .distinct()
    )
    boiler = (
        dsh.where(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("shingle", F.lit(1).alias("is_boiler"))
    )
    per_doc = (
        dsh.join(F.broadcast(boiler), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            # count("shingle") skips the null rows explode_outer added
            F.count("shingle").cast("long").alias("n_shingles"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).cast("long").alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("boiler_ratio"),
    )


def shuffle_shard(docs: DataFrame, num_shards: int = 8) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment.

    Assigns every document a shard (md5(doc_id) bucket mod
    ``num_shards``) and a position within that shard (rank by the same
    hash) - the "globally shuffled, sharded" layout a training job
    reads. Hash-derived order means no RNG state: the epoch-0 data
    order is reproducible from the table alone, on any cluster layout.

    Scale: deliberately NOT a global sort. The window partitions by
    shard, so the plan is one hash exchange on shard + per-shard
    local sort - each shard sorts independently in parallel, and at
    100 TB / 10k shards each sort is ~10 GB, spillable. A naive
    row_number() over a global ORDER BY would funnel the corpus
    through a single-partition window; sharding first is the
    difference between the two.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % num_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def quality_top_p(
    docs: DataFrame,
    source_col: str = "source",
    p: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """FineWeb-style per-source quality gate: keep the top p fraction.

    Ranks documents by the composite quality score WITHIN each source
    (so a low-quality-on-average source still contributes its best
    docs rather than being wiped out by a global cutoff) and keeps
    rank <= ceil(p * n_source). doc_id breaks quality ties, making
    the kept set deterministic and engine-portable.

    Scale: the rank window partitions by source, so parallelism is
    bounded by |sources| - fine for tens-to-thousands of sources, and
    each per-source sort spills independently. For few-source corpora
    at 100 TB, swap the exact rank for a percentile_approx cutoff
    (one map-side-combined aggregate, broadcast back, filter in the
    scan stage) - same semantics modulo sketch error - or a two-phase
    per-partition top-k merge. The count window shares the rank
    window's partitioning: ONE exchange total.
    """
    from pyspark.sql.window import Window

    qs = quality_score(docs, text_col=text_col, keep_cols=(source_col,))
    w_rank = Window.partitionBy(source_col).orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    w_all = Window.partitionBy(source_col)
    return (
        qs.select(
            "doc_id",
            source_col,
            "quality",
            F.row_number().over(w_rank).cast("long").alias("rn"),
            F.count(F.lit(1)).over(w_all).cast("long").alias("n_source"),
        )
        .where(F.col("rn") <= F.ceil(F.lit(p) * F.col("n_source")))
        .select("doc_id", source_col, "quality")
    )


def filter_funnel(
    docs: DataFrame,
    target_lang: str = "en",
    min_chars: int = 150,
    max_digit_ratio: float = 0.2,
    min_alpha_ratio: float = 0.55,
) -> DataFrame:
    """X4: corpus filter funnel with first-failing-rule attribution.

    Every production corpus-cleaning run needs the attrition report:
    how many documents each rule removed, and how much text survived.
    Rules fire in a fixed order (short -> wrong language -> too
    numeric -> low alpha); a document is attributed to the FIRST rule
    it fails, which makes the counts a proper funnel (stages sum to
    the corpus) rather than overlapping rule tallies. Emits one row
    per (source, stage) with document and character counts, so both
    the global funnel and per-source health fall out of one pass.

    Plan: single scan, all rules are codegen'd scalar expressions on
    that scan, one map-side-combined groupBy on (source, stage) whose
    shuffle carries only O(sources x 5) rows. At 100 TB the report
    costs exactly one pass over the corpus - the same shape the
    quality gate (quality_top_p) and mix planner (mix_thresholds)
    already use, so the funnel can share their scan.
    """
    t = F.col("text")
    n_chars = F.length(t)
    digit_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    stage = (
        F.when(n_chars < min_chars, F.lit("too_short"))
        .when(F.col("lang") != target_lang, F.lit("non_target_lang"))
        .when(digit_ratio > max_digit_ratio, F.lit("too_numeric"))
        .when(alpha_ratio < min_alpha_ratio, F.lit("low_alpha"))
        .otherwise(F.lit("kept"))
    )
    return (
        docs.select("source", n_chars.alias("_nc"), stage.alias("stage"))
        .groupBy("source", "stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nc").cast("long").alias("n_chars"),
        )
    )
