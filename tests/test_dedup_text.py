"""Dedup + text operator semantics on hand-built corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_crypto_market_data_pipeline_spark.operators import dedup as D
from real_time_crypto_market_data_pipeline_spark.operators import text as T
from real_time_crypto_market_data_pipeline_spark.session import pin, query_scope

from tests import _reference_impls as R


@pytest.fixture(scope="module")
def corpus(spark):
    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),  # near dup of 0
        (3, "completely different content about spark engines and parquet files"),
        (4, "tiny"),  # shorter than shingle width
    ]
    return spark.createDataFrame(docs, "doc_id LONG, text STRING")


def test_exact_dedup_representatives(corpus):
    rows = {r.doc_id: r.n_copies for r in D.exact_dedup(corpus).collect()}
    assert rows[0] == 2  # doc 1 collapsed into doc 0 (min doc_id kept)
    assert 1 not in rows
    assert rows[2] == 1 and rows[3] == 1 and rows[4] == 1


def test_minhash_identical_docs_identical_signatures(corpus):
    sigs = R.minhash_signatures(corpus).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r.doc_id, {})[r.seed] = r.sig
    assert by_doc[0] == by_doc[1]
    assert by_doc[0] != by_doc[3]
    assert 4 not in by_doc  # no shingles -> no signature rows


def test_lsh_candidates_catch_exact_and_near_dups(corpus):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.lsh_candidate_pairs(
            R.lsh_buckets(R.minhash_signatures(corpus))
        ).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide in every band
    assert all(a < b for a, b in pairs)


def test_simhash_identical_docs_equal_fingerprints(corpus):
    fps = {r.doc_id: r.simhash for r in D.simhash(corpus).collect()}
    assert fps[0] == fps[1]
    assert 0 <= fps[0] < 2**32
    # near-dup shares most bits; unrelated doc differs more
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[0], fps[2]) <= ham(fps[0], fps[3])


def test_jaccard_exact_dup_is_one(corpus):
    rows = D.jaccard_pairs(corpus, top_k=None).collect()
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert jac[(0, 1)] == 1.0
    assert 0.0 < jac[(0, 2)] < 1.0
    assert (0, 3) not in jac  # no shared shingles -> pruned by the equi-join


def test_token_stats_counts(corpus):
    rows = {r.token: (r.n, r.n_docs) for r in T.token_stats(corpus).collect()}
    assert rows["the"] == (6, 3)  # 2 per doc in docs 0,1,2
    assert rows["tiny"] == (1, 1)


def test_fingerprint_whitespace_normalization(spark):
    docs = spark.createDataFrame(
        [(0, "a b  c"), (1, "a b c"), (2, "a b d")], "doc_id LONG, text STRING"
    )
    rows = {r.doc_id: r for r in T.fingerprint(docs).collect()}
    assert rows[0].fp_text == rows[1].fp_text  # runs of whitespace collapse
    assert rows[0].fp_text != rows[2].fp_text


def test_quality_score_monotone_in_length(spark):
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat and then it ran away home"), (1, "x")],
        "doc_id LONG, text STRING",
    )
    q = {r.doc_id: r.quality for r in T.quality_score(docs).collect()}
    assert q[0] > q[1]


def test_embedding_near_dup_blocked(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.001], 0),
            (2, [0.0, 1.0], 0),
            (3, [1.0, 0.0], 1),  # other block: never paired with 0
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in D.embedding_near_dup(emb).collect()}
    assert pairs[(0, 1)] > 0.999
    assert (0, 3) not in pairs
    assert pairs[(0, 2)] < 0.01


def test_lsh_bucket_table_matches_long_form(corpus):
    """The shuffle-free fused bucket table equals the
    signatures->banding composition exactly."""
    narrow = {
        (r.doc_id, r.band, r.bucket)
        for r in D.lsh_bucket_table(corpus).collect()
    }
    long_form = {
        (r.doc_id, r.band, r.bucket)
        for r in R.lsh_buckets(R.minhash_signatures(corpus)).collect()
    }
    assert narrow == long_form


def test_lsh_bucket_table_single_partial_agg_shuffle(corpus):
    """The fused bucket table shuffles once, after map-side partial
    mins collapse each partition to one row per doc - the exchange
    carries |docs| rows, not |corpus x seeds|."""
    plan = D.lsh_bucket_table(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    # one aggregation exchange on doc_id (plus the explicit fan-out
    # repartition, which is round-robin-by-key and pre-aggregation)
    assert plan.count("Exchange hashpartitioning(doc_id") <= 2


def test_jaccard_df_pruning_drops_hot_shingles(spark):
    """max_df prunes stopword-shingle skew keys: pairs connected only
    through hot shingles disappear; cold-shingle pairs survive."""
    docs = spark.createDataFrame(
        [
            (0, "the of and common tail alpha beta gamma"),
            (1, "the of and common tail delta epsilon zeta"),
            (2, "the of and common tail eta theta iota"),
            (3, "the of and common tail kappa lam mu"),
        ],
        "doc_id LONG, text STRING",
    )
    full = {(r.doc_a, r.doc_b) for r in D.jaccard_pairs(docs, top_k=None).collect()}
    pruned = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(docs, top_k=None, max_df=3).collect()
    }
    # every pair shares the hot prefix shingles (df=4 > 3) and nothing else
    assert full and pruned == set()


def test_chunking_overlap_and_coverage(spark):
    """Chunks cover every token; consecutive chunks overlap by 8."""
    text = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame([(0, text), (1, "short doc")], "doc_id LONG, text STRING")
    rows = sorted(
        T.chunk_documents(docs).where("doc_id = 0").collect(),
        key=lambda r: r.chunk_id,
    )
    # 80 tokens, window 32, stride 24 -> ceil((80-32)/24)+1 = 3 chunks
    assert [r.chunk_id for r in rows] == [0, 1, 2]
    assert rows[0].chunk_text.split(" ")[:2] == ["w0", "w1"]
    assert rows[1].chunk_text.split(" ")[0] == "w24"  # stride 24
    assert rows[0].chunk_text.split(" ")[-8:] == rows[1].chunk_text.split(" ")[:8]
    covered = {t for r in rows for t in r.chunk_text.split(" ")}
    assert covered == {f"w{i}" for i in range(80)}
    # short doc -> single truncated chunk
    short = T.chunk_documents(docs).where("doc_id = 1").collect()
    assert len(short) == 1 and short[0].chunk_len == 2


def test_corpus_split_dups_land_together(spark):
    docs = spark.createDataFrame(
        [(i, f"doc body {i % 7}") for i in range(50)], "doc_id LONG, text STRING"
    )
    rows = T.corpus_split(docs).collect()
    # identical texts always share a split (leakage-safe)
    by_text = {}
    texts = {r.doc_id: f"doc body {r.doc_id % 7}" for r in rows}
    for r in rows:
        by_text.setdefault(texts[r.doc_id], set()).add(r.split)
    assert all(len(s) == 1 for s in by_text.values())


def test_scrub_text_patterns(spark):
    docs = spark.createDataFrame(
        [(0, "mail me at a.b@example.com or visit https://x.io/page id 1234567890")],
        "doc_id LONG, text STRING",
    )
    r = T.scrub_text(docs).first()
    assert r.clean_text == "mail me at <EMAIL> or visit <URL> id <NUM>"
    assert r.bytes_removed > 0


def test_connected_components_matches_python(spark):
    """CC over near-dup pairs equals a pure-Python union-find."""
    import random

    rnd = random.Random(3)
    edges = [(rnd.randrange(40), rnd.randrange(40)) for _ in range(35)]
    edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    # canonicalize: component = min node in each set
    comp = {}
    for node in parent:
        root = find(node)
        comp.setdefault(root, []).append(node)
    expect = {}
    for root, members in comp.items():
        m = min(members + [root])
        for node in members:
            expect[node] = m

    got = {
        r.doc_id: r.component
        for r in D.connected_components(df).collect()
    }
    assert got == expect


def test_connected_components_chain(spark):
    """A path graph (worst-case diameter) still converges to one component."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a LONG, doc_b LONG"
    )
    got = {r.doc_id: r.component for r in D.connected_components(chain).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_lsh_matches_exact_and_mllib(spark):
    """Cross-validation of the hand-rolled MinHash LSH: at jaccard >=
    0.7 on the test corpus it recovers EXACTLY the pairs the exhaustive
    shingle-join finds, and MLlib's MinHashLSH (same hash budget, 8
    tables) at the equivalent distance cutoff finds the same set.

    Pins three independent implementations to one answer - the
    hand-rolled pipeline exists (rather than MLlib) because its
    signatures are md5-deterministic cross-engine for the DuckDB
    oracle, and its banding is a pure projection (no CountVectorizer
    vocabulary broadcast, which at 100 TB is a multi-GB dictionary).
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D
    from real_time_crypto_market_data_pipeline_spark.operators.text import (
        tokens_col,
        word_shingles,
    )
    from real_time_crypto_market_data_pipeline_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(docs, top_k=None, min_jaccard=0.7).collect()
    }
    ours = {
        (r.doc_a, r.doc_b)
        for r in D.lsh_jaccard_dedup(docs, min_jaccard=0.7).collect()
    }
    assert ours == exact
    assert len(exact) > 0

    sh = docs.select(
        "doc_id",
        F.array_distinct(word_shingles(tokens_col(F.col("text")), 3)).alias("sh"),
    ).where(F.size("sh") > 0)
    vecs = (
        CountVectorizer(inputCol="sh", outputCol="features", binary=True)
        .fit(sh)
        .transform(sh)
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(vecs)
    joined = model.approxSimilarityJoin(vecs, vecs, 0.3, distCol="dist")
    mllib = {
        (r.datasetA.doc_id, r.datasetB.doc_id)
        for r in joined.where("datasetA.doc_id < datasetB.doc_id").collect()
    }
    assert mllib == exact


def test_lsh_jaccard_shared_shingle_sets_and_release(spark):
    """r21: the distinct-shingle sets are computed ONCE and shared by
    minhash and both verify sides (the old form shingled the corpus
    three times), and closing the query scope frees every block the
    query persisted - no corpus-sized storage accumulates across calls."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    spark.catalog.clearCache()
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    # CacheManager (DataFrame persists only - localCheckpoint blocks from
    # other tests in the shared session do not show here) holds the two
    # intra-query tables until the scope closes
    cm = spark._jsparkSession.sharedState().cacheManager()
    with query_scope():
        out = D.lsh_jaccard_dedup(docs, min_jaccard=0.7)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # three readers of the one persisted set table: minhash's explode
        # plus the two verify sides
        assert plan.count("InMemoryTableScan") >= 3
        assert out.count() > 0
        assert not cm.isEmpty()  # sets + candidates live
    assert cm.isEmpty()  # both released


def test_lsh_jaccard_size_gate_both_branches(spark):
    """The verify join must produce identical pairs whether the
    candidate list broadcasts (small corpus) or falls back to shuffle
    joins (gate forced to 0) - and the fallback plan must not contain
    a forced broadcast of the candidate side."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    bcast = D.lsh_jaccard_dedup(docs, min_jaccard=0.7)
    shuffled = D.lsh_jaccard_dedup(docs, min_jaccard=0.7, broadcast_max_candidates=0)
    assert {(r.doc_a, r.doc_b) for r in bcast.collect()} == {
        (r.doc_a, r.doc_b) for r in shuffled.collect()
    }
    assert len(shuffled.collect()) > 0
    # with auto-broadcast disabled, the gated-off plan has NO broadcast
    # exchange anywhere: everything shuffles, which is the 100 TB path
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    # the earlier calls persisted an identical candidate plan compiled
    # with auto-broadcast on; drop it so the gated plan recompiles
    spark.catalog.clearCache()
    try:
        plan = (
            D.lsh_jaccard_dedup(docs, min_jaccard=0.7, broadcast_max_candidates=0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" not in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repetition_stats_hand_values(spark):
    """Hand-computed Gopher-style fractions on a 3-doc corpus."""
    docs = spark.createDataFrame(
        [
            # 6 tokens, all distinct; bigrams 5 distinct; no repetition
            (0, "a b c d e f"),
            # "x x x x": uni total=4 dist=1 top=4; bi total=3 dist=1
            (1, "x x x x"),
            # 1 token: no bigrams/trigrams -> fracs coalesce to 0.0
            (2, "solo"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r.asDict() for r in T.repetition_stats(docs).collect()}
    assert got[0]["n_tokens"] == 6
    assert got[0]["dup_unigram_frac"] == 0.0
    assert got[0]["dup_bigram_frac"] == 0.0
    assert got[0]["top_unigram_frac"] == pytest.approx(1 / 6)
    assert got[0]["repetitive"] is False

    assert got[1]["n_tokens"] == 4
    assert got[1]["dup_unigram_frac"] == pytest.approx(3 / 4)
    assert got[1]["dup_bigram_frac"] == pytest.approx(2 / 3)
    assert got[1]["dup_trigram_frac"] == pytest.approx(1 / 2)
    assert got[1]["top_unigram_frac"] == 1.0
    assert got[1]["repetitive"] is True

    assert got[2]["n_tokens"] == 1
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[2]["top_unigram_frac"] == 1.0  # 1/1: flagged by top share
    assert got[2]["repetitive"] is True


def test_pack_sequences_budget_and_order(spark):
    """Within each bucket stream, bins fill in (doc_id, chunk_id) order
    and only the boundary-crossing chunk may overflow the budget."""
    chunks = spark.createDataFrame(
        [(d, c, 30) for d in range(4) for c in range(5)],
        "doc_id LONG, chunk_id INT, chunk_len LONG",
    )
    packed = T.pack_sequences(chunks, budget_tokens=64, num_buckets=2)
    rows = packed.collect()
    assert len(rows) == 20
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r.bucket, r.doc_id, r.chunk_id)):
        by_bucket.setdefault(r.bucket, []).append(r)
    for rs in by_bucket.values():
        cum = 0
        for r in rs:
            assert r.bin == cum // 64  # streaming-fill rule, exact
            cum += r.chunk_len
        # bin totals: every bin holds >= 2 chunks of 30 (64-budget), so
        # a full bin is 60-90 tokens: budget + at most one extra chunk
        fills = {}
        for r in rs:
            fills[r.bin] = fills.get(r.bin, 0) + r.chunk_len
        for b, tot in fills.items():
            if b < max(fills):  # last bin may be partial
                assert tot < 64 + 30
    # deterministic: same input -> same assignment
    again = {(r.doc_id, r.chunk_id): r.bin for r in T.pack_sequences(
        chunks, budget_tokens=64, num_buckets=2).collect()}
    assert again == {(r.doc_id, r.chunk_id): r.bin for r in rows}


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir mode (reliable checkpoint, the 100 TB
    restart-safe path) produces the identical labeling as the default
    localCheckpoint mode, and actually materializes checkpoint data
    under the session's effective directory (the checkpoint dir is
    session-global and FIRST-SETTER-WINS - pin warns rather than
    overrides - so another checkpoint test running first
    legitimately redirects this one; order-independent on purpose)."""
    import os
    from urllib.parse import urlparse

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a LONG, doc_b LONG"
    )
    local = {r.doc_id: r.component for r in D.connected_components(chain).collect()}
    ckpt = str(tmp_path / "cc_ckpt")
    reliable = {
        r.doc_id: r.component
        for r in D.connected_components(chain, checkpoint_dir=ckpt).collect()
    }
    assert reliable == local == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    eff = urlparse(spark.sparkContext.getCheckpointDir()).path
    assert any(files for _, _, files in os.walk(eff))  # data really landed


def test_temperature_mix_rates_and_determinism(spark):
    # 16 docs in lang a, 4 in lang b: rate_a = sqrt(4/16) = 0.5,
    # rate_b = 1.0 - every b doc must survive, and the kept set is a
    # pure function of content (identical across two invocations).
    docs = spark.createDataFrame(
        [(i, f"text number {i}", "a") for i in range(16)]
        + [(100 + i, f"other text {i}", "b") for i in range(4)],
        "doc_id LONG, text STRING, lang STRING",
    )
    kept1 = {r.doc_id for r in T.temperature_mix(docs, source_col="lang").collect()}
    kept2 = {
        r.doc_id
        for r in T.temperature_mix(
            docs.repartition(7), source_col="lang"
        ).collect()
    }
    assert kept1 == kept2  # layout-invariant
    assert {100, 101, 102, 103} <= kept1  # smallest source keeps 100%
    n_a = sum(1 for d in kept1 if d < 100)
    assert 0 < n_a < 16  # big source actually downsampled


def test_boilerplate_ngrams_flags_template_text(spark):
    # "here shared footer" and "shared footer text" occur in 5 docs
    # -> boilerplate; every shingle containing the doc number is
    # unique. Doc 9 is too short to shingle.
    docs = spark.createDataFrame(
        [(i, f"unique words {i} here shared footer text") for i in range(5)]
        + [(8, "entirely fresh content with no repeats at all"), (9, "tiny")],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r for r in T.boilerplate_ngrams(docs, min_docs=5).collect()}
    assert len(rows) == 7  # one row per doc, short docs included
    for i in range(5):
        assert rows[i].n_boiler == 2 and rows[i].n_shingles == 5
        assert abs(rows[i].boiler_ratio - 0.4) < 1e-12
    assert rows[8].n_boiler == 0 and rows[8].boiler_ratio == 0.0
    assert rows[9].n_shingles == 0 and rows[9].boiler_ratio == 0.0


def test_shuffle_shard_positions_dense_and_stable(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id LONG, text STRING"
    )
    out = T.shuffle_shard(docs, num_shards=8).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense ranks
    # stable under physical layout changes
    again = T.shuffle_shard(docs.repartition(13), num_shards=8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in again} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }


def test_semantic_dedup_keeps_min_id_per_ball(spark):
    # Vectors 0-7 are the IVF centroids (ids < num_cells). 10 and 11
    # duplicate vector 0's direction (cosine 1.0 -> same cell as 0,
    # dropped in favor of id 0); 12 is near-orthogonal noise on top of
    # vector 1 (kept); 13 exactly duplicates 11 (also dropped).
    import math

    def unit(i, dims=8):
        v = [0.0] * dims
        v[i % dims] = 1.0
        return v

    rows = [(i, unit(i), 0) for i in range(8)]
    rows += [
        (10, [x * 2.0 for x in unit(0)], 0),  # scaled dup of centroid 0
        (11, unit(0), 0),                     # exact dup of centroid 0
        # noisy neighbor of centroid 1: cosine 1/sqrt(1.25) = 0.894 < 0.95
        (12, [1.0 if j == 1 else (0.5 if j == 2 else 0.0) for j in range(8)], 0),
        (13, unit(0), 0),                     # dup of 11
    ]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label LONG"
    )
    kept = {r.vec_id for r in D.semantic_dedup(emb, threshold=0.95).collect()}
    assert 0 in kept and 12 in kept          # ball representative + distinct doc
    assert kept.isdisjoint({10, 11, 13})     # every higher-id dup dropped
    assert {1, 2, 3, 4, 5, 6, 7} <= kept     # orthogonal centroids untouched


def test_semantic_dedup_fused_rings_match_physical_split(spark):
    """The r9 fused in-kernel rings and the physical ``split_hot_cells``
    re-assignment must induce the SAME kept-set (same ring arithmetic,
    different execution strategy): verify against an independent numpy
    replay of pairwise-drop over the physically ringed assignment."""
    import random

    import numpy as np

    from real_time_crypto_market_data_pipeline_spark.operators import similarity as S

    rnd = random.Random(23)
    base = [rnd.uniform(-1, 1) for _ in range(12)]
    rows = [
        (i, [b + rnd.uniform(-0.3, 0.3) for b in base]
            if i >= 8 and i % 7 else [rnd.uniform(-1, 1) for _ in range(12)])
        for i in range(160)
    ]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    fused = {r.vec_id for r in
             D.semantic_dedup(e, num_cells=8, threshold=0.6, max_cell=16).collect()}

    cells: dict = {}
    for r in S.ivf_assign(e, 8, keep_vec=True, max_cell=16).collect():
        cells.setdefault(r.cell_id, []).append((r.vec_id, np.asarray(r.embedding)))
    physical = set()
    for members in cells.values():
        members.sort()
        for i, (vid, v) in enumerate(members):
            vn = max(np.linalg.norm(v), 1e-12)
            if not any(float(v @ w) / (vn * max(np.linalg.norm(w), 1e-12)) >= 0.6
                       for _, w in members[:i]):
                physical.add(vid)
    assert fused == physical and len(fused) < 160


def test_semantic_dedup_fused_rings_with_zero_vectors(spark):
    """Zero-norm vectors inside a RINGED hot cell: the guarded norms pin
    their cosine to 0 everywhere (ring axis scoring AND pairwise), so
    they are kept (no NaN drop) and never drag neighbors out."""
    rows = [(i, [1.0 + 0.001 * i, 0.0]) for i in range(40)]      # near-dup crowd
    rows += [(100, [0.0, 0.0]), (101, [0.0, 0.0])]               # zero vectors
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    kept = {r.vec_id for r in
            D.semantic_dedup(e, num_cells=1, threshold=0.9, max_cell=8).collect()}
    assert {100, 101} <= kept                 # cos(0-vec, anything) pins to 0
    assert 0 in kept and len(kept) < 42       # crowd deduped within rings


def test_incremental_dedup_rejects_seen_and_intra_batch(spark):
    corpus = spark.createDataFrame(
        [(0, "already ingested page"), (2, "another known page")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            (10, "already ingested page"),   # re-crawl of corpus doc 0
            (11, "fresh page one"),
            (12, "fresh page one"),          # intra-batch dup of 11
            (13, "fresh page two"),
        ],
        "doc_id LONG, text STRING",
    )
    admitted = {r.doc_id for r in D.incremental_dedup(batch, corpus).collect()}
    assert admitted == {11, 13}  # min-id rep kept, re-crawl + dup rejected


def test_quality_top_p_keeps_best_half_per_source(spark):
    # source A: 4 docs with clearly ordered quality (longer + alpha-ier
    # = better); source B: 2 docs. ceil(0.5*4)=2 and ceil(0.5*2)=1.
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again", "A"),
            (1, "the small cat sat on the warm mat today", "A"),
            (2, "x", "A"),
            (3, "9 9 9", "A"),
            (4, "a reasonably long and wordy document for source b", "B"),
            (5, "z", "B"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    kept = {r.doc_id: r.quality for r in T.quality_top_p(docs).collect()}
    assert set(kept) == {0, 1, 4}
    assert kept[0] >= kept[1]


def test_semantic_dedup_int8_transport_matches_numpy_replay(spark):
    """transport='int8' = SemDeDup over SQ8-dequantized vectors on every
    corpus leg: a pure numpy replay (quantize -> route -> fused rings ->
    lower-triangle pairwise) over the real sf0.001 corpus pins the
    kept-set bit-for-bit - the q_semdedup oracle's eq-CTE twin."""
    import numpy as np

    from real_time_crypto_market_data_pipeline_spark.operators import similarity as S
    from real_time_crypto_market_data_pipeline_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    assert [r.vec_id for r in rows] == list(range(len(rows)))
    Q = S._sq8_roundtrip_np(
        np.stack([np.asarray(r.embedding, np.float64) for r in rows]))
    num_cells = max(8, len(rows) // 250)
    C = Q[:num_cells]
    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)
    g1 = S._cbrt_ceil(num_cells)
    sizes = sorted({g1, min(num_cells, g1 * g1), num_cells})
    kids = S._routing_tree(C, Cn, sizes)
    Qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-12)
    cell = S._route(C, Cn, kids, sizes, Q, Qn, len(sizes))

    max_cell, thr = 64, 0.40
    expect = set()
    for c in np.unique(cell):
        idx = np.flatnonzero(cell == c)
        V, Vn = Q[idx], Qn[idx]
        if len(idx) > max_cell:
            tile = S.ring_tiles(idx, V, Vn, -(-len(idx) // max_cell))
            groups = [np.flatnonzero(tile == t) for t in range(tile.max() + 1)]
        else:
            groups = [np.arange(len(idx))]
        for g in groups:
            W, Wn = V[g], Vn[g]
            sim = (W @ W.T) / np.outer(Wn, Wn)
            dropped = np.tril(sim >= thr, -1).any(axis=1)
            expect.update(int(idx[g[i]]) for i in np.flatnonzero(~dropped))

    kept = {r.vec_id for r in
            D.semantic_dedup(e, max_cell=64, transport="int8").collect()}
    assert kept == expect and 0 < len(kept) < len(rows)


def test_pin_checkpoint_dir_first_setter_honored():
    """r10 ADVICE: the order-independent integration test can't see the
    first-setter case once any earlier test set the session-global dir,
    so pin the reliable-checkpoint contract directly: none set -> the
    REQUESTED dir is set (no warning); same dir re-requested -> no-op,
    no warning, although Spark reports it with a uuid subdir appended (a
    per-round reliable checkpoint re-requests it every round); a
    DIFFERENT dir -> kept + loud warning, never silently overridden
    (another operator may still be writing under it)."""
    import warnings as W

    class _SC:
        def __init__(self, cur=None):
            self.cur, self.sets = cur, []

        def getCheckpointDir(self):
            return self.cur

        def setCheckpointDir(self, d):  # Spark's form: a qualified uuid subdir
            self.sets.append(d)
            self.cur = f"file:{d.rstrip('/')}/5d1c-uuid"

    class _DF:
        def __init__(self, sc):
            self.sparkSession = type("S", (), {"sparkContext": sc})()

        def checkpoint(self, eager=True):
            return self

    def ckpt(d):
        return pin(_DF(sc), "checkpoint", checkpoint_dir=d)

    sc = _SC(None)
    with W.catch_warnings():
        W.simplefilter("error")
        ckpt("/ckpt/a")  # first setter wins
        assert sc.sets == ["/ckpt/a"] and sc.cur == "file:/ckpt/a/5d1c-uuid"
        ckpt("/ckpt/a/")  # same dir: quiet no-op
        ckpt("/ckpt/a")
        assert sc.sets == ["/ckpt/a"]
    with pytest.warns(UserWarning, match="already set to file:/ckpt/a/5d1c-uuid"):
        ckpt("/ckpt/b")
    assert sc.cur == "file:/ckpt/a/5d1c-uuid" and sc.sets == ["/ckpt/a"]  # kept


def test_semantic_dedup_kept_direct_matches_anti_join_tail(spark):
    """r12 kept-direct fold: the kernel now emits KEPT (id, cell_id)
    rows directly; the retired tail returned DROPPED ids and
    anti-joined the (checkpointed) assignment. The kept-set must be
    bit-equal across both tails - same ids AND same cell ids - on both
    the float and the SQ8 wire transports, rings fused."""
    import numpy as np

    from real_time_crypto_market_data_pipeline_spark.operators.similarity import (
        _q8_mat, ivf_assign)

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for transport in ("float", "int8"):
        new = {(r.vec_id, r.cell_id) for r in D.semantic_dedup(
            e, threshold=0.40, max_cell=64, transport=transport).collect()}

        wire = transport == "int8"

        def drop_in_cell(pdf):  # the retired r11 tail, verbatim semantics
            pdf = pdf.sort_values("vec_id", ignore_index=True)
            V = _q8_mat(pdf) if wire else np.stack(
                pdf["embedding"].map(lambda v: np.asarray(v, np.float64)))
            Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
            dropped = D._dropped_tri(V, Vn, pdf["vec_id"].to_numpy(), 0.40, 64)
            return pdf.loc[dropped, ["vec_id"]]

        assign = ivf_assign(e, keep_vec=True, transport=transport).localCheckpoint()
        dropped = assign.groupBy("cell_id").applyInPandas(
            drop_in_cell, schema="vec_id long")
        old = {(r.vec_id, int(r.cell_id)) for r in
               assign.join(dropped, "vec_id", "left_anti")
               .select("vec_id", "cell_id").collect()}
        assert new == old and 0 < len(new) < e.count()


def _unit(i, dims=8, scale=1.0):
    v = [0.0] * dims
    v[i % dims] = scale
    return v


def _mix(i, j, scale=1.0, dims=8):
    v = [0.0] * dims
    v[i], v[j] = scale, scale
    return v


def test_semantic_dedup_incremental_batches_match_one_shot(spark, tmp_path):
    """Pin (i): batch1 (the index seed) + batch2 + batch3 run through
    semantic_dedup_incremental == ONE-SHOT semantic_dedup over the
    union, when batches arrive in id order (parallel-vector clusters,
    so kept-only probing and all-lower-id probing provably coincide).
    Also pins composability: batch3's dup of a BATCH2 survivor drops
    because the index advanced between calls (update_index append)."""
    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)]
        + [(8, _unit(0, scale=2.0)), (9, _unit(1, scale=3.0)),
           (10, _unit(2, scale=0.5)), (11, _mix(3, 4))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    b2 = spark.createDataFrame(
        [(20, _unit(0, scale=4.0)), (21, _mix(3, 4, scale=2.0)),
         (22, _unit(5, scale=1.5)), (23, _mix(6, 7))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    b3 = spark.createDataFrame(
        [(40, _mix(6, 7, scale=3.0)), (41, _unit(2, scale=7.0)),
         (42, _mix(0, 2))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    adm2 = {(r.vec_id, r.cell_id) for r in
            D.semantic_dedup_incremental(b2, idx, threshold=0.9).collect()}
    adm3 = {(r.vec_id, r.cell_id) for r in
            D.semantic_dedup_incremental(b3, idx, threshold=0.9).collect()}
    assert {v for v, _ in adm2} == {23}      # 20, 21, 22 dup kept seen rows
    assert {v for v, _ in adm3} == {42}      # 40 dups batch2's survivor 23
    union = seed.unionByName(b2).unionByName(b3)
    oneshot = {(r.vec_id, r.cell_id) for r in D.semantic_dedup(
        union, num_cells=8, threshold=0.9, transport="int8").collect()}
    incr = {(r.vec_id, int(r.cell_id)) for r in
            spark.read.parquet(f"{idx}/kept").select("vec_id", "cell_id").collect()}
    assert incr == oneshot  # the full advanced index IS the one-shot kept-set


def test_semantic_dedup_incremental_seen_survivor_never_redropped(spark, tmp_path):
    """Pin (ii): the seen-set is FIXED. A batch vector that duplicates a
    kept index row is dropped even when its id is LOWER than the
    survivor's (one-shot would have kept the lower id instead), and the
    index row survives the append untouched."""
    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)] + [(100, _mix(2, 3))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    batch = spark.createDataFrame(
        [(50, _mix(2, 3, scale=5.0)),    # lower-id dup of survivor 100
         (51, _mix(4, 5))],              # genuinely new direction
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in
           D.semantic_dedup_incremental(batch, idx, threshold=0.9).collect()}
    assert adm == {51}                   # 50 rejected by the FIXED seen-set
    kept_ids = {r.vec_id for r in spark.read.parquet(f"{idx}/kept").collect()}
    assert 100 in kept_ids and 51 in kept_ids and 50 not in kept_ids


def test_semantic_dedup_incremental_probes_only_batch_cells(spark, tmp_path):
    """Pin (iii): the kept-set scan is partition-pruned to the buckets
    of the cells the batch routed to (bkt = cell_id % 1024; at C <=
    1024 that is per-cell pruning) - behaviorally: corrupting the
    parquet of an UN-probed bucket leaves the incremental run
    unaffected (a whole-index scan would die on it)."""
    import glob

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)] + [(8, _mix(4, 5))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    assert glob.glob(f"{idx}/kept/bkt=6/*.parquet")  # bucketed layout
    for f in glob.glob(f"{idx}/kept/bkt=6/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"not parquet at all")   # poison an un-probed cell
    with pytest.raises(Exception):            # poison is real
        spark.read.parquet(f"{idx}/kept").collect()
    batch = spark.createDataFrame(
        [(20, _unit(0, scale=2.0)), (21, _mix(1, 2))],  # routes to cells 0/1
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in D.semantic_dedup_incremental(
        batch, idx, threshold=0.9, update_index=False).collect()}
    assert adm == {21}                        # pruned scan never read cell 6


def test_semantic_dedup_incremental_empty_and_alldup_batches(spark, tmp_path):
    """Ingest edges: an EMPTY batch and an all-duplicates batch both
    admit nothing, leave the index byte-intact (the empty append writes
    no poison), and later batches keep working against it."""
    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert D.semantic_dedup_incremental(empty, idx, threshold=0.9).count() == 0
    alldup = spark.createDataFrame(
        [(20, _unit(0, scale=3.0)), (21, _unit(1, scale=2.0))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert D.semantic_dedup_incremental(alldup, idx, threshold=0.9).count() == 0
    assert spark.read.parquet(f"{idx}/kept").count() == 8  # intact
    nxt = spark.createDataFrame(
        [(30, _unit(2, scale=5.0)), (31, _mix(2, 5))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert {r.vec_id for r in
            D.semantic_dedup_incremental(nxt, idx, threshold=0.9).collect()} == {31}


@pytest.mark.parametrize("seed", [11, 29])
def test_semantic_dedup_incremental_random_pattern_corpora(spark, tmp_path, seed):
    """Randomized stress of the batches==one-shot pin: 40 vectors drawn
    from 36 base patterns (8 axes + 28 two-axis mixes - pairwise cosine
    across patterns <= 0.7071 < threshold 0.9, within-pattern exactly
    1.0 even after SQ8, since scaled copies quantize to parallel
    codes), random scales, split at random id cuts into three batches.
    For such corpora kept-only probing provably equals all-lower-id
    probing, so the final advanced index must equal one-shot
    semantic_dedup(transport='int8') on the union - for ANY draw."""
    import random

    rnd = random.Random(seed)
    patterns = [[1.0 if d == i else 0.0 for d in range(8)] for i in range(8)]
    patterns += [[1.0 if d in (i, j) else 0.0 for d in range(8)]
                 for i in range(8) for j in range(i + 1, 8)]
    rows = [(i, patterns[i]) for i in range(8)]  # trainer: the 8 axes
    rows += [(i, [x * rnd.choice([0.5, 1.5, 2.0, 3.0]) for x in rnd.choice(patterns)])
             for i in range(8, 40)]
    cut1, cut2 = sorted(rnd.sample(range(9, 39), 2))
    mk = lambda rs: spark.createDataFrame(rs, "vec_id LONG, embedding ARRAY<DOUBLE>")  # noqa: E731
    idx = str(tmp_path / "idx")
    D.semantic_index_build(mk(rows[:cut1]), idx, num_cells=8, threshold=0.9)
    a2 = D.semantic_dedup_incremental(mk(rows[cut1:cut2]), idx, threshold=0.9)
    a3 = D.semantic_dedup_incremental(mk(rows[cut2:]), idx, threshold=0.9)
    assert a2.count() >= 0 and a3.count() >= 0  # materialize in order
    incr = {(r.vec_id, int(r.cell_id)) for r in
            spark.read.parquet(f"{idx}/kept").select("vec_id", "cell_id").collect()}
    oneshot = {(r.vec_id, r.cell_id) for r in D.semantic_dedup(
        mk(rows), num_cells=8, threshold=0.9, transport="int8").collect()}
    assert incr == oneshot and 8 <= len(incr) < 40


def test_semantic_dedup_incremental_codes_batch_matches_float(spark, tmp_path):
    """r12: the batch side rides the ingest layout too - feeding
    sq8_encode codes from parquet via codes_col= must admit the exact
    (id, cell_id) set the float batch path admits (both quantize to
    the same wire), with no float column in the batch input at all."""
    from real_time_crypto_market_data_pipeline_spark.operators import similarity as S

    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)] + [(8, _mix(1, 4))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    batch = spark.createDataFrame(
        [(20, _mix(1, 4, scale=2.0)), (21, _mix(5, 6)), (22, _unit(3, scale=0.5))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    i1, i2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    for idx in (i1, i2):
        D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    flt = {(r.vec_id, r.cell_id) for r in
           D.semantic_dedup_incremental(batch, i1, threshold=0.9).collect()}
    S.sq8_encode(batch).write.parquet(str(tmp_path / "bcodes"))
    bcodes = spark.read.parquet(str(tmp_path / "bcodes"))
    cod = {(r.vec_id, r.cell_id) for r in D.semantic_dedup_incremental(
        bcodes, i2, threshold=0.9, codes_col="__q8").collect()}
    assert cod == flt
    # 20 dups seen survivor 8; 22 dups seed axis 3; only 21 is new
    assert {v for v, _ in cod} == {21}


def test_semantic_index_build_forwards_ring_cap(spark, tmp_path):
    """max_cell forwards to the one-shot pass: an index built with the
    fused ring cap holds exactly the capped one-shot's kept-set (the
    10M+ build path), and incremental admits still work against it."""
    rows = [(i, _unit(i)) for i in range(8)]
    rows += [(i, [x * (1 + 0.01 * i) for x in _unit(0)]) for i in range(8, 40)]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    idx = str(tmp_path / "idx")
    D.semantic_index_build(e, idx, num_cells=8, threshold=0.95, max_cell=8)
    got = {(r.vec_id, int(r.cell_id)) for r in
           spark.read.parquet(f"{idx}/kept").select("vec_id", "cell_id").collect()}
    want = {(r.vec_id, r.cell_id) for r in D.semantic_dedup(
        e, num_cells=8, threshold=0.95, transport="int8", max_cell=8).collect()}
    assert got == want and len(got) < 40
    adm = D.semantic_dedup_incremental(
        spark.createDataFrame([(50, _mix(3, 6))], "vec_id LONG, embedding ARRAY<DOUBLE>"),
        idx, threshold=0.95)
    assert {r.vec_id for r in adm.collect()} == {50}


def test_semantic_index_meta_defaults_and_contradiction(spark, tmp_path):
    """r13 (ADVICE): the build persists its parameters under
    {index_dir}/meta; a probe with NO threshold defaults to the BUILD
    threshold (not 0.40), an explicit contradicting threshold raises,
    and a pre-r13 index (meta/ deleted) still probes with explicit
    parameters."""
    import shutil

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    batch = spark.createDataFrame(
        [(20, _mix(0, 1))],  # cos vs axis 0 = 0.7071: dup at 0.4, new at 0.9
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in D.semantic_dedup_incremental(
        batch, idx, update_index=False).collect()}
    assert adm == {20}  # defaulted to the BUILD threshold 0.9, not 0.40
    with pytest.raises(ValueError, match="threshold=0.9"):
        D.semantic_dedup_incremental(batch, idx, threshold=0.40)
    shutil.rmtree(f"{idx}/meta")  # pre-r13 index: explicit params still work
    assert {r.vec_id for r in D.semantic_dedup_incremental(
        batch, idx, threshold=0.9, update_index=False).collect()} == {20}


def test_semantic_index_build_rejects_sparse_seed_ids(spark, tmp_path):
    """r13 (ADVICE): seed ids that are not dense-from-0 fail AT BUILD
    with a clear message instead of persisting an unusable index that
    only dies at the first incremental probe."""
    seed = spark.createDataFrame(
        [(i * 2 + 1, _unit(i)) for i in range(8)],  # odd ids: not dense
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="dense from 0"):
        D.semantic_index_build(seed, str(tmp_path / "idx"), num_cells=8,
                               threshold=0.9)


# ---------------------------------------------------------------- r13:
# incremental NEAR-DUP (text) dedup over the persisted band-bucket index


def _ctext(c, n=12, swap=None):
    """Deterministic cluster text: 12 tokens from cluster-c vocabulary;
    ``swap`` replaces the last token (a near-dup, Jaccard ~0.67)."""
    toks = [f"w{c}x{k}" for k in range(n)]
    if swap is not None:
        toks[-1] = f"swap{swap}"
    return " ".join(toks)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_lsh_dedup_incremental_batches_match_one_shot(spark, tmp_path):
    """Pin (i): seed-index build + two incremental batches == ONE-SHOT
    survivors (ids with no lower-id lsh_jaccard_dedup pair) over the
    union, under id-order arrival - exact-dup clusters guarantee every
    later member collides with the cluster's (indexed) survivor. Also
    pins composability: batch3's dup of a BATCH2 survivor drops because
    the index advanced between calls."""
    idx = str(tmp_path / "idx")
    seed = _docs(spark, [
        (0, _ctext(0)), (3, _ctext(0)), (7, _ctext(0)),   # cluster A
        (1, _ctext(1)), (5, _ctext(1)),                   # cluster B
        (2, _ctext(2)), (4, _ctext(3)), (6, _ctext(4)),   # singletons
        (10, _ctext(0, swap=1)),                          # NEAR dup of A
    ])
    b2 = _docs(spark, [
        (20, _ctext(0)),            # dup of indexed survivor 0
        (21, _ctext(7)),            # new cluster C
        (22, _ctext(7)),            # intra-batch dup of 21
        (23, _ctext(8)),            # new cluster D
        (24, _ctext(1)),            # dup of indexed survivor 1
    ])
    b3 = _docs(spark, [
        (40, _ctext(7)),            # dup of BATCH2 survivor 21
        (41, _ctext(9)),            # genuinely new
        (42, _ctext(8)),            # dup of batch2 survivor 23
    ])
    D.lsh_index_build(seed, idx, min_jaccard=0.5)
    adm2 = {r.doc_id for r in D.lsh_dedup_incremental(b2, idx).collect()}
    adm3 = {r.doc_id for r in D.lsh_dedup_incremental(b3, idx).collect()}
    assert adm2 == {21, 23}
    assert adm3 == {41}
    union = seed.unionByName(b2).unionByName(b3)
    dropped = {r.doc_b for r in
               D.lsh_jaccard_dedup(union, min_jaccard=0.5).collect()}
    oneshot = {r.doc_id for r in union.collect()} - dropped
    incr = {r.doc_id for r in
            spark.read.parquet(f"{idx}/kept").select("doc_id").distinct().collect()}
    assert incr == oneshot  # the advanced index IS the one-shot kept-set


def test_lsh_dedup_incremental_seen_survivor_never_redropped(spark, tmp_path):
    """Pin (ii): the seen-set is FIXED. A batch doc duplicating a kept
    index doc is dropped even at a LOWER id (one-shot would keep the
    lower id instead), and the index row survives untouched."""
    idx = str(tmp_path / "idx")
    seed = _docs(spark, [(100, _ctext(0)), (101, _ctext(1))])
    D.lsh_index_build(seed, idx, min_jaccard=0.5)
    batch = _docs(spark, [(50, _ctext(0)),   # lower-id dup of survivor 100
                          (51, _ctext(2))])  # genuinely new
    adm = {r.doc_id for r in D.lsh_dedup_incremental(batch, idx).collect()}
    assert adm == {51}
    kept = {r.doc_id for r in spark.read.parquet(f"{idx}/kept").collect()}
    assert 100 in kept and 51 in kept and 50 not in kept


def test_lsh_dedup_incremental_probes_only_batch_buckets(spark, tmp_path):
    """Pin (iii): the index scan dir-prunes to the batch's bkt values -
    behaviorally: poisoning the parquet of every bucket dir the batch
    does NOT route to leaves the run unaffected (a whole-index scan
    would die on it)."""
    import glob

    idx = str(tmp_path / "idx")
    seed = _docs(spark, [(0, _ctext(0)), (1, _ctext(1))])
    D.lsh_index_build(seed, idx, min_jaccard=0.5, num_buckets=D.IDX_BUCKETS)
    batch = _docs(spark, [(10, _ctext(0)), (11, _ctext(0))])  # routes like doc 0
    probed = {r.bkt for r in D._lsh_rows(batch, "text", 3).select("bkt").collect()}
    poisoned = 0
    for d in glob.glob(f"{idx}/kept/bkt=*"):
        if int(d.rsplit("=", 1)[1]) not in probed:
            for f in glob.glob(f"{d}/*.parquet"):
                with open(f, "wb") as fh:
                    fh.write(b"not parquet at all")
                poisoned += 1
    assert poisoned  # doc 1's exclusive buckets exist and are poisoned
    with pytest.raises(Exception):
        spark.read.parquet(f"{idx}/kept").collect()  # poison is real
    assert D.lsh_dedup_incremental(batch, idx, update_index=False).count() == 0


def test_lsh_dedup_incremental_empty_alldup_and_meta(spark, tmp_path):
    """Ingest edges + meta validation: an EMPTY batch and an
    all-duplicates batch admit nothing and leave the index intact;
    shingle-less docs admit (no bucket rows, like one-shot); an
    explicit min_jaccard contradicting the build meta raises."""
    idx = str(tmp_path / "idx")
    seed = _docs(spark, [(0, _ctext(0)), (1, _ctext(1))])
    D.lsh_index_build(seed, idx, min_jaccard=0.5)
    empty = _docs(spark, [])
    assert D.lsh_dedup_incremental(empty, idx).count() == 0
    alldup = _docs(spark, [(20, _ctext(0)), (21, _ctext(1))])
    assert D.lsh_dedup_incremental(alldup, idx).count() == 0
    kept = spark.read.parquet(f"{idx}/kept")
    assert {r.doc_id for r in kept.collect()} == {0, 1}
    tiny = _docs(spark, [(30, "too short")])  # < shingle_n tokens
    assert {r.doc_id for r in
            D.lsh_dedup_incremental(tiny, idx).collect()} == {30}
    with pytest.raises(ValueError, match="min_jaccard=0.5"):
        D.lsh_dedup_incremental(alldup, idx, min_jaccard=0.9)


@pytest.mark.parametrize("seed", [13, 37])
def test_lsh_dedup_incremental_random_cluster_corpora(spark, tmp_path, seed):
    """Randomized stress of the batches==one-shot pin: 30 docs drawn
    from 12 exact-dup cluster texts (within-cluster collision certain,
    cross-cluster vocabularies disjoint), split at random id cuts into
    seed + two batches - the advanced index must equal the one-shot
    survivor set for ANY draw."""
    import random

    rnd = random.Random(seed)
    rows = [(i, _ctext(i)) for i in range(6)]  # seed: six distinct clusters
    rows += [(i, _ctext(rnd.randrange(12))) for i in range(6, 30)]
    cut1, cut2 = sorted(rnd.sample(range(7, 29), 2))
    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, rows[:cut1]), idx, min_jaccard=0.5)
    D.lsh_dedup_incremental(_docs(spark, rows[cut1:cut2]), idx).count()
    D.lsh_dedup_incremental(_docs(spark, rows[cut2:]), idx).count()
    union = _docs(spark, rows)
    dropped = {r.doc_b for r in
               D.lsh_jaccard_dedup(union, min_jaccard=0.5).collect()}
    oneshot = {i for i, _ in rows} - dropped
    incr = {r.doc_id for r in
            spark.read.parquet(f"{idx}/kept").select("doc_id").distinct().collect()}
    assert incr == oneshot and 6 <= len(incr) <= 30


def test_semantic_dedup_incremental_dense_batch_still_prunes(spark, tmp_path):
    """r16 (verdict item 2), INVERTING the r13 adaptivity pin: a batch
    routing to MORE than half of C used to scan the index whole; now the
    bkt dir-prune holds at any breadth (with the cell row-prune becoming
    a broadcast semi-join) - behaviorally: poison in an UNTOUCHED bucket
    is never read, and the dense-path admits stay exact."""
    import glob

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    for f in glob.glob(f"{idx}/kept/bkt=7/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"not parquet at all")
    dense = spark.createDataFrame(  # routes to cells 0..5: 6 of 8 > half,
        [(20 + i, _unit(i, scale=2.0)) for i in range(6)]  # bkt=7 untouched
        + [(30, _mix(0, 1))],  # genuinely new direction: must admit
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in D.semantic_dedup_incremental(
        dense, idx, threshold=0.9, update_index=False).collect()}
    assert adm == {30}  # 20-25 dup the seen axes through the pruned probe


def test_lsh_dedup_incremental_dense_batch_still_prunes(spark, tmp_path):
    """r16 (verdict item 2), INVERTING the r13 adaptivity pin (LSH side):
    a batch whose bands cover more than half the bkt universe used to
    scan the index whole; the bkt isin is a PARTITION filter (resolved
    per-dir at listing, never per row), so it now applies at any breadth
    - poison of a dir OUTSIDE the batch's bkt set is never read, and the
    dense probe admits exactly the novel docs (dense-path dup rejection
    is pinned by the random-cluster stress + compaction parity tests)."""
    import glob

    idx = str(tmp_path / "idx")
    seed = _docs(spark, [(0, _ctext(0)), (1, _ctext(1))])
    D.lsh_index_build(seed, idx, min_jaccard=0.5, num_buckets=D.IDX_BUCKETS)
    dense = _docs(spark, [(100 + i, _ctext(1000 + i)) for i in range(300)])
    probed = {r.bkt for r in D._lsh_rows(dense, "text", 3)
              .select("bkt").distinct().collect()}
    assert len(probed) * 2 > D.IDX_BUCKETS  # premise: genuinely dense
    poisoned = 0
    for d in glob.glob(f"{idx}/kept/bkt=*"):
        if int(d.rsplit("=", 1)[1]) not in probed:
            for f in glob.glob(f"{d}/*.parquet"):
                with open(f, "wb") as fh:
                    fh.write(b"not parquet at all")
                poisoned += 1
    assert poisoned  # an un-probed dir exists and is poisoned
    adm = {r.doc_id for r in D.lsh_dedup_incremental(
        dense, idx, update_index=False).collect()}
    assert adm == {100 + i for i in range(300)}


def test_index_compaction_composes_with_incremental_appends(spark, tmp_path):
    """Pin (r13, SCALING caveat 2): per-batch appends grow one file per
    touched bucket; sinks.compact_partitions over {index_dir}/kept
    restores one-file-per-bucket with the kept-set EQUAL row for row,
    and the compacted index admits exactly what the fragmented one
    does."""
    import glob
    import shutil

    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    for k in (1, 2, 3):  # each admits into cell 0: bkt=0 grows a file
        b = spark.createDataFrame([(20 + k, _mix(0, k))],
                                  "vec_id LONG, embedding ARRAY<DOUBLE>")
        assert D.semantic_dedup_incremental(b, idx, threshold=0.9).count() == 1
    assert len(glob.glob(f"{idx}/kept/bkt=0/*.parquet")) == 4  # fragmented
    cidx = str(tmp_path / "cidx")
    K.compact_partitions(spark, f"{idx}/kept", f"{cidx}/kept")
    for d in glob.glob(f"{cidx}/kept/bkt=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1  # one file per bucket
    rows = lambda p: sorted(  # noqa: E731
        (r.vec_id, r.cell_id, bytes(r["__q8"]), r["__amax"], r.bkt)
        for r in spark.read.parquet(f"{p}/kept").collect())
    assert rows(cidx) == rows(idx)  # kept-set equal row for row
    for aux in ("centroids", "meta"):  # complete the compacted index root
        shutil.copytree(f"{idx}/{aux}", f"{cidx}/{aux}")
    probe = spark.createDataFrame(
        [(50, _mix(0, 1, scale=3.0)), (51, _mix(6, 7))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = lambda p: {r.vec_id for r in D.semantic_dedup_incremental(  # noqa: E731
        probe, p, update_index=False).collect()}
    assert adm(cidx) == adm(idx) == {51}  # 50 dups the appended survivor 21


def test_lsh_incremental_append_layout_and_compaction(spark, tmp_path):
    """r13 append-wall pin: each incremental append writes at most ONE
    new file per touched bucket dir (never tasks x dirs), and
    sinks.compact_partitions restores one-file-per-bucket on the LSH
    index with the admitted-set unchanged (parity with the semantic
    compaction pin)."""
    import glob
    import shutil

    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    idx = str(tmp_path / "idx")
    seed = _docs(spark, [(0, _ctext(0)), (1, _ctext(1))])
    D.lsh_index_build(seed, idx, min_jaccard=0.5)
    files = lambda: {f for f in glob.glob(f"{idx}/kept/bkt=*/*.parquet")}  # noqa: E731
    f0 = files()
    for k in (2, 3):  # two appends of one genuinely-new doc each
        assert D.lsh_dedup_incremental(
            _docs(spark, [(10 + k, _ctext(10 + k))]), idx).count() == 1
    f1 = files()
    new = f1 - f0
    # one new doc = 4 band rows = at most 4 touched dirs => <= 4 new files
    assert len(new) <= 8 and all("/bkt=" in f for f in new)
    by_dir = {}
    for f in f1:
        by_dir.setdefault(f.rsplit("/", 1)[0], []).append(f)
    assert any(len(v) > 1 for v in by_dir.values())  # genuinely fragmented
    cidx = str(tmp_path / "cidx")
    K.compact_partitions(spark, f"{idx}/kept", f"{cidx}/kept")
    for d in glob.glob(f"{cidx}/kept/bkt=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    shutil.copytree(f"{idx}/meta", f"{cidx}/meta")
    probe = _docs(spark, [(50, _ctext(12)), (51, _ctext(99))])  # dup of 12, new
    adm = lambda p: {r.doc_id for r in D.lsh_dedup_incremental(  # noqa: E731
        probe, p, update_index=False).collect()}
    assert adm(cidx) == adm(idx) == {51}


def test_lsh_incremental_empty_index_and_meta_bucket_modulus(spark, tmp_path):
    """Two index edges: (a) a seed of only shingle-less docs writes an
    EMPTY kept/ (every doc survives, none has bucket rows) and the
    probe still works - the explicit read schema means no footer
    inference to fail on an empty dir; (b) the probe derives its bkt
    modulus from the build meta, not the 1024 default - a dup of an
    indexed doc is rejected under a non-default num_buckets (a probe
    hashing with the wrong modulus would dir-miss and wrongly admit)."""
    i1 = str(tmp_path / "i1")
    D.lsh_index_build(_docs(spark, [(0, "too short"), (1, "also tiny")]), i1)
    adm = {r.doc_id for r in D.lsh_dedup_incremental(
        _docs(spark, [(10, _ctext(3))]), i1).collect()}
    assert adm == {10}  # empty index admits everything shingled
    i2 = str(tmp_path / "i2")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0)), (1, _ctext(1))]), i2,
                      num_buckets=16)
    assert D.lsh_dedup_incremental(  # dup of doc 0: must hit via %16 dirs
        _docs(spark, [(20, _ctext(0))]), i2, update_index=False).count() == 0


def test_semantic_dedup_incremental_dense_batch_correct_results(spark, tmp_path):
    """Functional twin of the dense-path poison pin: a batch routing to
    6 of 8 cells takes the dense branch (r16: broadcast semi-join row
    prune, formerly whole-scan) and must admit exactly the genuinely-new
    vectors (dups of seen rows rejected), with untouched cells pruned at
    the scan rather than shuffled into the kernel guard."""
    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)] + [(8, _mix(6, 7))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    dense = spark.createDataFrame(  # cells 0..5 = 6 of 8 > half
        [(20 + i, _unit(i, scale=2.0)) for i in range(5)]
        + [(25, _mix(4, 5)), (26, _mix(4, 5, scale=3.0))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in
           D.semantic_dedup_incremental(dense, idx, threshold=0.9).collect()}
    assert adm == {25}  # 20-24 dup seen axes; 26 dups batch survivor 25
    kept = {r.vec_id for r in spark.read.parquet(f"{idx}/kept").collect()}
    assert 25 in kept and 26 not in kept


# ---------------------------------------------------------------- r14:
# ADVICE hardening - meta fail-loud, id_col sentinel


def test_read_meta_corrupt_raises_missing_returns_none(spark, tmp_path):
    """r14 (ADVICE): _read_meta returns None ONLY for a missing
    {index_dir}/meta (the pre-r13 layout); a corrupt/unreadable meta
    re-raises instead of silently falling back to defaults (a wrong
    num_buckets modulus would make the probe miss every seen bucket
    and admit duplicates - a silent dedup pass-through)."""
    idx = str(tmp_path / "idx")
    assert D._read_meta(spark, idx) is None  # missing: pre-r13 fallback
    (tmp_path / "idx" / "meta").mkdir(parents=True)
    (tmp_path / "idx" / "meta" / "part-00000.parquet").write_bytes(
        b"not a parquet footer")
    with pytest.raises(Exception, match="(?i)parquet|footer|PAR1"):
        D._read_meta(spark, idx)


def test_lsh_incremental_missing_meta_raises(spark, tmp_path):
    """r14 (ADVICE): LSH indexes ALWAYS carry meta (no pre-r13 LSH
    layout exists), so a kept/ dir without meta is a broken index -
    the probe must raise, never fail-open to default parameters."""
    import shutil

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0)), (1, _ctext(1))]), idx)
    shutil.rmtree(f"{idx}/meta")
    with pytest.raises(ValueError, match="meta is missing"):
        D.lsh_dedup_incremental(_docs(spark, [(10, _ctext(0))]), idx)


def test_semdedup_incremental_explicit_id_col_validated(spark, tmp_path):
    """r14 (ADVICE): id_col=None is the from-meta sentinel, so an
    EXPLICIT id_col - including the old string default 'vec_id' - is
    validated against the build meta exactly like threshold: probing a
    'vkey'-built index with id_col='vec_id' raises the contradiction
    instead of silently using the meta value."""
    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vkey LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9, id_col="vkey")
    batch = spark.createDataFrame(
        [(20, _mix(0, 1))], "vkey LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vkey for r in D.semantic_dedup_incremental(
        batch, idx, update_index=False).collect()}
    assert adm == {20}  # id_col defaulted from meta; result keyed by vkey
    with pytest.raises(ValueError, match="id_col='vkey'"):
        D.semantic_dedup_incremental(batch, idx, id_col="vec_id")
    assert {r.vkey for r in D.semantic_dedup_incremental(  # matching explicit
        batch, idx, id_col="vkey", update_index=False).collect()} == {20}


def test_lsh_incremental_auto_compaction_policy(spark, tmp_path):
    """r15 (verdict item 5): the append path self-heals its layout.
    With compact_files_per_bucket=1 every fragmenting append triggers
    _maybe_compact_kept, so the file count stays one-per-bucket across
    >= 5 appends (86 -> 516 uncompacted in SCALING.md's r14 tail), and
    the compacted index admits exactly what a fragmented one does
    (composes the r13 parity pin)."""
    import glob

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0)), (1, _ctext(1))]), idx)
    files = lambda: glob.glob(f"{idx}/kept/bkt=*/*.parquet")  # noqa: E731
    dirs = lambda: glob.glob(f"{idx}/kept/bkt=*")  # noqa: E731
    fired = 0
    for k in range(5):  # new docs only: each append advances the index
        assert D.lsh_dedup_incremental(
            _docs(spark, [(10 + k, _ctext(10 + k))]), idx,
            compact_files_per_bucket=1).count() == 1
        fired += len(files()) == len(dirs())
        assert len(files()) <= len(dirs()), "policy left fragmentation"
    assert fired == 5  # one-file-per-bucket restored after EVERY append
    # parity after auto-compaction: dup of an appended survivor rejected,
    # novel doc admitted; meta survives the swap (modulus still derived)
    probe = _docs(spark, [(50, _ctext(13)), (51, _ctext(99))])
    adm = {r.doc_id for r in D.lsh_dedup_incremental(
        probe, idx, update_index=False).collect()}
    assert adm == {51}


def test_lsh_incremental_compaction_disabled_fragments(spark, tmp_path):
    """compact_files_per_bucket=None keeps the r13 behavior: appends
    fragment one file per touched dir (the policy is opt-out-able for
    callers running their own OPTIMIZE cadence)."""
    import glob

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0)), (1, _ctext(1))]), idx)
    for k in range(3):
        D.lsh_dedup_incremental(
            _docs(spark, [(10 + k, _ctext(10 + k))]), idx,
            compact_files_per_bucket=None).count()
    by_dir = {}
    for f in glob.glob(f"{idx}/kept/bkt=*/*.parquet"):
        by_dir.setdefault(f.rsplit("/", 1)[0], []).append(f)
    assert any(len(v) > 1 for v in by_dir.values())


def test_semantic_incremental_auto_compaction_policy(spark, tmp_path):
    """r15 symmetry: the semantic append path self-heals like the LSH
    twin - with compact_files_per_bucket=1 every fragmenting admit
    restores one-file-per-bucket, and a post-compaction probe still
    rejects dups of appended survivors."""
    import glob

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    files = lambda: glob.glob(f"{idx}/kept/bkt=*/*.parquet")  # noqa: E731
    dirs = lambda: glob.glob(f"{idx}/kept/bkt=*")  # noqa: E731
    for k in (1, 2, 3):  # each admits into cell 0: bkt=0 would fragment
        b = spark.createDataFrame([(20 + k, _mix(0, k))],
                                  "vec_id LONG, embedding ARRAY<DOUBLE>")
        assert D.semantic_dedup_incremental(
            b, idx, threshold=0.9, compact_files_per_bucket=1).count() == 1
        assert len(files()) == len(dirs())  # restored after every append
    probe = spark.createDataFrame(
        [(50, _mix(0, 1, scale=3.0)), (51, _mix(6, 7))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in D.semantic_dedup_incremental(
        probe, idx, update_index=False).collect()}
    assert adm == {51}  # 50 dups appended survivor 21 through the compacted index


# ---------------------------------------------------------------- r16:
# crash-safe compaction swap (verdict item 4 / ADVICE self-heal)


def _die_on_kept_old_rename(monkeypatch):
    """os.rename that performs the kept -> kept__old rename, then raises -
    simulating death BETWEEN the compaction swap's two renames (the
    window with no readable kept/)."""
    import os

    real_rename = os.rename

    def dying(src, dst, *a, **kw):
        real_rename(src, dst, *a, **kw)
        if str(dst).endswith("kept__old"):
            raise RuntimeError("simulated crash between swap renames")

    monkeypatch.setattr(os, "rename", dying)
    return real_rename


def test_lsh_compaction_crash_between_renames_self_heals(
        spark, tmp_path, monkeypatch):
    """r16 (verdict item 4): death between the swap's two renames leaves
    kept/ missing (index under kept__old, compacted tree under
    kept__compact); the NEXT probe must roll the swap forward and answer
    correctly - no manual repair, no lost survivors."""
    import glob
    import os

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0)), (1, _ctext(1))]), idx)
    restore = _die_on_kept_old_rename(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.lsh_dedup_incremental(  # fragmenting append fires the compactor
            _docs(spark, [(10, _ctext(10))]), idx, compact_files_per_bucket=1)
    assert not os.path.isdir(f"{idx}/kept")  # the torn state is real
    assert os.path.isdir(f"{idx}/kept__compact")
    monkeypatch.setattr(os, "rename", restore)
    probe = _docs(spark, [(50, _ctext(10)), (51, _ctext(99))])
    adm = {r.doc_id for r in D.lsh_dedup_incremental(
        probe, idx, update_index=False).collect()}
    assert adm == {51}  # 50 dups survivor 10, appended BEFORE the crash
    assert os.path.isdir(f"{idx}/kept")  # swap rolled forward...
    assert not glob.glob(f"{idx}/kept__*")  # ...and leftovers cleaned
    files, dirs = (glob.glob(f"{idx}/kept/bkt=*/*.parquet"),
                   glob.glob(f"{idx}/kept/bkt=*"))
    assert len(files) == len(dirs)  # the COMPACTED tree won the swap


def test_semantic_compaction_crash_between_renames_self_heals(
        spark, tmp_path, monkeypatch):
    """r16 symmetry: the semantic index self-heals the same torn swap."""
    import glob
    import os

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    restore = _die_on_kept_old_rename(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.semantic_dedup_incremental(
            spark.createDataFrame([(21, _mix(0, 1))],
                                  "vec_id LONG, embedding ARRAY<DOUBLE>"),
            idx, threshold=0.9, compact_files_per_bucket=1)
    assert not os.path.isdir(f"{idx}/kept")
    monkeypatch.setattr(os, "rename", restore)
    probe = spark.createDataFrame(
        [(50, _mix(0, 1, scale=3.0)), (51, _mix(6, 7))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    adm = {r.vec_id for r in D.semantic_dedup_incremental(
        probe, idx, update_index=False).collect()}
    assert adm == {51}  # 50 dups pre-crash survivor 21 through the healed index
    assert not glob.glob(f"{idx}/kept__*")


def test_heal_rolls_back_without_compacted_tree(tmp_path):
    """If only kept__old exists (no complete compacted tree), the heal
    rolls BACK to the pre-compaction index instead of leaving nothing."""
    import os

    idx = tmp_path / "idx"
    (idx / "kept__old" / "bkt=0").mkdir(parents=True)
    (idx / "kept__old" / "bkt=0" / "f.parquet").write_bytes(b"x")
    D._heal_kept_swap(str(idx))
    assert (idx / "kept" / "bkt=0" / "f.parquet").read_bytes() == b"x"
    assert not os.path.isdir(idx / "kept__old")


# ---------------------------------------------------------------- r16:
# streaming twin of incremental LSH dedup (verdict item 5)


def test_streaming_lsh_dedup_sink_matches_batch(spark, tmp_path):
    """Streaming==batch admit parity: documents replayed as a real
    microbatch stream (maxFilesPerTrigger=1, id-ordered files) through
    start_lsh_dedup_sink admit EXACTLY the one-shot survivor set of
    seed+stream (id-order arrival: incremental == one-shot min-id)."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    rows = [(i, _ctext(i)) for i in range(4)]          # seed: 4 clusters
    rows += [(i, _ctext(i % 6)) for i in range(4, 16)]  # dups + 2 new clusters
    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, rows[:4]), idx, min_jaccard=0.5)
    src = str(tmp_path / "src")
    _docs(spark, rows[4:10]).coalesce(1).write.mode("append").parquet(src)
    _docs(spark, rows[10:]).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "admitted")
    q = K.start_lsh_dedup_sink(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(src),
        idx, out, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {r.doc_id for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_b for r in D.lsh_jaccard_dedup(
        _docs(spark, rows), min_jaccard=0.5).collect()}
    assert streamed == {i for i, _ in rows[4:]} - dropped
    kept = {r.doc_id for r in spark.read.parquet(f"{idx}/kept")
            .select("doc_id").distinct().collect()}
    assert kept == {i for i, _ in rows} - dropped  # index advanced in lockstep


def test_lsh_dedup_sink_replayed_epoch_is_idempotent(spark, tmp_path):
    """A replayed epoch (foreachBatch redelivery after restart) must not
    double-advance the index or change the epoch's admitted output."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    out = str(tmp_path / "admitted")
    write = K.lsh_dedup_batch_writer(idx, out, checkpoint="ckpt-a")
    batch = _docs(spark, [(10, _ctext(0)), (11, _ctext(1)), (12, "short")])
    write(batch, 0)
    admitted = {r.doc_id for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert admitted == {11, 12}  # 10 dups seed 0; 12 is band-less (admits)
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    write(batch, 0)  # redelivery: same epoch, same checkpoint
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows
    assert {r.doc_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {11, 12}


def test_lsh_dedup_sink_crash_before_marker_keeps_admitted_output(spark, tmp_path):
    """The money pin: a crash AFTER the index append but BEFORE the
    marker write (simulated by advancing the index directly, marker
    absent) makes the replayed probe re-see its own survivors - its
    return value collapses to band-less docs only. The sink's
    membership-derived output must still record the TRUE survivors,
    and the index must not double-append."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    batch = _docs(spark, [(10, _ctext(0)), (11, _ctext(1)), (12, "short")])
    # the "crashed" first attempt: index advanced, no marker, no output
    assert {r.doc_id for r in
            D.lsh_dedup_incremental(batch, idx).collect()} == {11, 12}
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    out = str(tmp_path / "admitted")
    K.lsh_dedup_batch_writer(idx, out, checkpoint="ckpt-a")(batch, 0)  # replay
    assert {r.doc_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {11, 12}
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows  # no double rows


@pytest.mark.parametrize("state", ["old_only", "tmp_only", "kept_and_tmp",
                                   "kept_and_old", "tmp_and_old"])
def test_heal_kept_swap_full_state_matrix(tmp_path, state):
    """Every reachable torn state heals to a readable kept/ holding the
    RIGHT tree: the compacted tree wins whenever it exists (it is
    complete before the first rename fires), the pre-compaction tree
    restores when it does not, and an intact kept/ only sheds leftovers."""
    import os

    idx = tmp_path / "idx"

    def mk(name, payload):
        (idx / name / "bkt=0").mkdir(parents=True)
        (idx / name / "bkt=0" / "f.parquet").write_bytes(payload)

    trees = {"old_only": [("kept__old", b"pre")],
             "tmp_only": [("kept__compact", b"compacted")],
             "kept_and_tmp": [("kept", b"live"), ("kept__compact", b"partial")],
             "kept_and_old": [("kept", b"live"), ("kept__old", b"stale")],
             "tmp_and_old": [("kept__compact", b"compacted"),
                             ("kept__old", b"pre")]}[state]
    for name, payload in trees:
        mk(name, payload)
    D._heal_kept_swap(str(idx))
    expect = {"old_only": b"pre", "tmp_only": b"compacted",
              "kept_and_tmp": b"live", "kept_and_old": b"live",
              "tmp_and_old": b"compacted"}[state]
    assert (idx / "kept" / "bkt=0" / "f.parquet").read_bytes() == expect
    assert not os.path.isdir(idx / "kept__old")
    assert not os.path.isdir(idx / "kept__compact")


def test_lsh_dedup_sink_checkpoint_relocation_not_silently_dropped(spark, tmp_path):
    """A marker bound to a DIFFERENT checkpoint must not suppress the new
    stream's epochs (the rollup-sink contract): the probe re-runs (the
    advanced index makes that a no-op), the marker rebinds, and the
    membership-derived output still records the true survivors."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    out = str(tmp_path / "admitted")
    batch = _docs(spark, [(10, _ctext(0)), (11, _ctext(1))])
    K.lsh_dedup_batch_writer(idx, out, checkpoint="ckpt-a")(batch, 3)
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    # relocated checkpoint: epoch ids restart at 0; marker says (ckpt-a, 3)
    K.lsh_dedup_batch_writer(idx, out, checkpoint="ckpt-b")(batch, 0)
    assert {r.doc_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {11}
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows  # no double rows
    with open(f"{idx}/_last_epoch", encoding="utf-8") as f:
        assert f.read().split("\n", 1)[0] == "ckpt-b"  # marker rebound


@pytest.mark.parametrize("seed", [5, 23])
def test_streaming_lsh_sink_random_corpora_with_replay(spark, tmp_path, seed):
    """Randomized stress of the sink's batch==stream pin WITH replay:
    every epoch is delivered twice (foreachBatch redelivery), and the
    union of per-epoch outputs must still equal the one-shot survivor
    set (id-order arrival) restricted to streamed docs."""
    import random

    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    rnd = random.Random(seed)
    rows = [(i, _ctext(i)) for i in range(6)]
    rows += [(i, _ctext(rnd.randrange(12))) for i in range(6, 30)]
    cut1, cut2 = sorted(rnd.sample(range(7, 29), 2))
    idx, out = str(tmp_path / "idx"), str(tmp_path / "admitted")
    D.lsh_index_build(_docs(spark, rows[:cut1]), idx, min_jaccard=0.5)
    write = K.lsh_dedup_batch_writer(idx, out, checkpoint="ck")
    for e, (lo, hi) in enumerate([(cut1, cut2), (cut2, 30)]):
        batch = _docs(spark, rows[lo:hi])
        write(batch, e)
        write(batch, e)  # redelivery of the just-committed epoch
    streamed = {r.doc_id for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_b for r in D.lsh_jaccard_dedup(
        _docs(spark, rows), min_jaccard=0.5).collect()}
    assert streamed == {i for i, _ in rows[cut1:]} - dropped


def test_lsh_dedup_sink_single_lsh_pass_per_fresh_epoch(
        spark, tmp_path, monkeypatch):
    """r17 (verdict item 4): a FRESH sink epoch pays exactly one _lsh_rows
    batch pass - the probe's materialized rows ride admitted.lsh_rows into
    lsh_index_member instead of being recomputed. A replayed epoch has no
    live probe, so membership recomputes: one pass either way, never two."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    calls, real = [], D._lsh_rows
    monkeypatch.setattr(
        D, "_lsh_rows", lambda *a, **k: calls.append(1) or real(*a, **k))
    idx, out = str(tmp_path / "idx"), str(tmp_path / "admitted")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    base = len(calls)  # the build spends its own passes
    write = K.lsh_dedup_batch_writer(idx, out, checkpoint="ck")
    batch = _docs(spark, [(10, _ctext(0)), (11, _ctext(1))])
    write(batch, 0)  # fresh epoch: probe + membership share ONE pass
    assert len(calls) - base == 1
    assert {r.doc_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {11}
    write(batch, 0)  # replay: no live probe - membership's own single pass
    assert len(calls) - base == 2
    assert {r.doc_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {11}


@pytest.mark.parametrize("max_df", [None, 4])
def test_jaccard_pairs_scope_frees_shingle_blocks(spark, max_df):
    """r16 ADVICE (sharpened r17): closing the query scope must ACTUALLY
    drop the checkpointed distinct-shingle table's storage blocks -
    DataFrame.rdd.unpersist() is a verified no-op (it unpersists a fresh
    javaToPython wrapper, not the checkpoint), so the release goes
    through the plan's LogicalRDD. max_df=4 rebinds the shingle frame to
    a pruned JOIN plan (a Join has no LogicalRDD: the r17 release raised
    Py4JError there); the release must still target the checkpointed
    BASE frame. Asserted via getRDDStorageInfo on the blocks the query
    added."""
    docs = _docs(spark, [(i, _ctext(i % 3)) for i in range(6)])
    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    with query_scope():
        rows = D.jaccard_pairs(docs, top_k=5, max_df=max_df).collect()
        added = {i.id() for i in jsc.getRDDStorageInfo()} - before
        assert added  # the shingle table's checkpoint blocks
    assert not added & {i.id() for i in jsc.getRDDStorageInfo()}  # freed
    assert len(rows) > 0  # the materialized result survives the release


def test_incremental_probes_and_sink_accept_empty_batches(spark, tmp_path):
    """Streaming sinks routinely deliver EMPTY microbatches (idle
    trigger fires): both incremental probes and the sink writer must
    no-op cleanly - zero admits, index unchanged, epoch still recorded
    (so a later replay of the empty epoch skips like any other)."""
    import os

    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    idx = str(tmp_path / "idx")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert D.lsh_dedup_incremental(empty, idx).count() == 0
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    out = str(tmp_path / "admitted")
    K.lsh_dedup_batch_writer(idx, out, checkpoint="ck")(empty, 0)
    assert spark.read.parquet(f"{out}/epoch=0").count() == 0
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows
    assert os.path.exists(f"{idx}/_last_epoch")  # the empty epoch committed
    sidx = str(tmp_path / "sidx")
    seed = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    D.semantic_index_build(seed, sidx, num_cells=8, threshold=0.9)
    sempty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert D.semantic_dedup_incremental(sempty, sidx).count() == 0
    sout = str(tmp_path / "sadmitted")  # r17: the semantic writer, same pin
    n_rows = spark.read.parquet(f"{sidx}/kept").count()
    K.semantic_dedup_batch_writer(sidx, sout, checkpoint="ck")(sempty, 0)
    assert spark.read.parquet(f"{sout}/epoch=0").count() == 0
    assert spark.read.parquet(f"{sidx}/kept").count() == n_rows
    assert os.path.exists(f"{sidx}/_last_epoch")


# ---------------------------------------------------------------- r17:
# streaming twin of incremental SEMANTIC dedup (verdict item 3) - the
# LSH twin's battery, mirrored


def test_streaming_semantic_dedup_sink_matches_batch(spark, tmp_path):
    """Streaming==batch admit parity: embeddings replayed as a real
    microbatch stream (maxFilesPerTrigger=1, id-ordered files) through
    start_semantic_dedup_sink admit EXACTLY the one-shot semantic_dedup
    survivor set of seed+stream (id-order arrival: incremental ==
    one-shot min-id; parallel-vector clusters make it provable)."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    seed_rows = ([(i, _unit(i)) for i in range(8)]
                 + [(8, _unit(0, scale=2.0)), (9, _mix(3, 4))])
    b2 = [(20, _unit(0, scale=4.0)), (21, _mix(3, 4, scale=2.0)),
          (22, _mix(6, 7))]
    b3 = [(40, _mix(6, 7, scale=3.0)), (41, _unit(2, scale=7.0)),
          (42, _mix(0, 2))]
    idx = str(tmp_path / "idx")
    D.semantic_index_build(spark.createDataFrame(seed_rows, ddl), idx,
                           num_cells=8, threshold=0.9)
    src = str(tmp_path / "src")
    spark.createDataFrame(b2, ddl).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b3, ddl).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "admitted")
    q = K.start_semantic_dedup_sink(
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src),
        idx, out, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {r.vec_id for r in spark.read.parquet(out).collect()}
    oneshot = {r.vec_id for r in D.semantic_dedup(
        spark.createDataFrame(seed_rows + b2 + b3, ddl), num_cells=8,
        threshold=0.9, transport="int8").collect()}
    assert streamed == oneshot & {v for v, _ in b2 + b3}
    kept = {r.vec_id for r in spark.read.parquet(f"{idx}/kept")
            .select("vec_id").distinct().collect()}
    assert kept == oneshot  # index advanced in lockstep


def test_semantic_dedup_sink_replayed_epoch_is_idempotent(spark, tmp_path):
    """A replayed epoch (foreachBatch redelivery after restart) must not
    double-advance the semantic index or change the epoch's output."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    idx = str(tmp_path / "idx")
    D.semantic_index_build(spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], ddl), idx, num_cells=8, threshold=0.9)
    out = str(tmp_path / "admitted")
    write = K.semantic_dedup_batch_writer(idx, out, checkpoint="ckpt-a")
    batch = spark.createDataFrame(
        [(20, _unit(0, scale=4.0)), (21, _mix(3, 4))], ddl)
    write(batch, 0)
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {21}  # 20 dups 0
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    write(batch, 0)  # redelivery: same epoch, same checkpoint
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {21}


def test_semantic_dedup_sink_crash_before_marker_keeps_admitted_output(
        spark, tmp_path):
    """The money pin, semantic form: a crash AFTER the index append but
    BEFORE the marker write makes the replayed probe re-see its own
    survivors at cosine 1.0 - its return collapses to EMPTY. The sink's
    membership-derived output must still record the TRUE survivors, and
    the index must not double-append."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    idx = str(tmp_path / "idx")
    D.semantic_index_build(spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], ddl), idx, num_cells=8, threshold=0.9)
    batch = spark.createDataFrame(
        [(20, _unit(0, scale=4.0)), (21, _mix(3, 4))], ddl)
    # the "crashed" first attempt: index advanced, no marker, no output
    assert {r.vec_id for r in
            D.semantic_dedup_incremental(batch, idx).collect()} == {21}
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    out = str(tmp_path / "admitted")
    K.semantic_dedup_batch_writer(idx, out, checkpoint="ckpt-a")(batch, 0)
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {21}
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows  # no double rows


def test_semantic_dedup_sink_checkpoint_relocation_not_silently_dropped(
        spark, tmp_path):
    """A marker bound to a DIFFERENT checkpoint must not suppress the new
    stream's epochs: the probe re-runs (the advanced index makes that a
    no-op), the marker rebinds, and the membership-derived output still
    records the true survivors."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    idx = str(tmp_path / "idx")
    D.semantic_index_build(spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], ddl), idx, num_cells=8, threshold=0.9)
    out = str(tmp_path / "admitted")
    batch = spark.createDataFrame(
        [(20, _unit(0, scale=4.0)), (21, _mix(3, 4))], ddl)
    K.semantic_dedup_batch_writer(idx, out, checkpoint="ckpt-a")(batch, 3)
    n_rows = spark.read.parquet(f"{idx}/kept").count()
    # relocated checkpoint: epoch ids restart at 0; marker says (ckpt-a, 3)
    K.semantic_dedup_batch_writer(idx, out, checkpoint="ckpt-b")(batch, 0)
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {21}
    assert spark.read.parquet(f"{idx}/kept").count() == n_rows
    with open(f"{idx}/_last_epoch", encoding="utf-8") as f:
        assert f.read().split("\n", 1)[0] == "ckpt-b"  # marker rebound


@pytest.mark.parametrize("seed", [5, 23])
def test_streaming_semantic_sink_random_corpora_with_replay(
        spark, tmp_path, seed):
    """Randomized stress of the semantic sink's batch==stream pin WITH
    replay (the LSH twin's test, mirrored): every epoch is delivered
    twice (foreachBatch redelivery), and the union of per-epoch outputs
    must still equal the one-shot survivor set (id-order arrival,
    parallel-vector clusters) restricted to streamed ids."""
    import random

    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    rnd = random.Random(seed)
    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    rows = [(i, _unit(i)) for i in range(8)]  # dense centroid seed
    rows += [(i, _unit(rnd.randrange(8), scale=rnd.uniform(0.5, 4.0)))
             for i in range(8, 30)]  # parallel clusters: cos exactly 1
    cut1, cut2 = sorted(rnd.sample(range(9, 29), 2))
    idx, out = str(tmp_path / "idx"), str(tmp_path / "admitted")
    D.semantic_index_build(spark.createDataFrame(rows[:cut1], ddl), idx,
                           num_cells=8, threshold=0.9)
    write = K.semantic_dedup_batch_writer(idx, out, checkpoint="ck")
    for e, (lo, hi) in enumerate([(cut1, cut2), (cut2, 30)]):
        batch = spark.createDataFrame(rows[lo:hi], ddl)
        write(batch, e)
        write(batch, e)  # redelivery of the just-committed epoch
    streamed = {r.vec_id for r in spark.read.parquet(out).collect()}
    oneshot = {r.vec_id for r in D.semantic_dedup(
        spark.createDataFrame(rows, ddl), num_cells=8, threshold=0.9,
        transport="int8").collect()}
    assert streamed == oneshot & {i for i, _ in rows[cut1:]}


def test_semantic_dedup_sink_single_assign_pass_per_fresh_epoch(
        spark, tmp_path, monkeypatch):
    """r17 symmetry with the LSH twin: a FRESH epoch pays exactly one
    assign_cells pass - the probe's materialized assignment rides
    admitted.assigned_cells into semantic_index_member. A replayed epoch
    has no live probe and recomputes: one pass either way, never two."""
    from real_time_crypto_market_data_pipeline_spark.operators import similarity as S
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    idx = str(tmp_path / "idx")
    D.semantic_index_build(spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], ddl), idx, num_cells=8, threshold=0.9)
    calls, real = [], S.assign_cells
    monkeypatch.setattr(
        S, "assign_cells", lambda *a, **k: calls.append(1) or real(*a, **k))
    out = str(tmp_path / "admitted")
    write = K.semantic_dedup_batch_writer(idx, out, checkpoint="ck")
    batch = spark.createDataFrame(
        [(20, _unit(0, scale=4.0)), (21, _mix(3, 4))], ddl)
    write(batch, 0)  # fresh epoch: probe + membership share ONE pass
    assert len(calls) == 1
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {21}
    write(batch, 0)  # replay: no live probe - membership's own single pass
    assert len(calls) == 2
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == {21}


def test_semantic_sink_codes_wire_renamed_amax_col(spark, tmp_path):
    """r17 ADVICE: the ingest wire may name the SQ8 scale column anything -
    amax_col threads through semantic_index_member and the sink writer
    like codes_col (semantic_index_member hardcoded '__amax', so a renamed
    wire worked in the batch probe but broke the member/replay path).
    Fresh epoch AND torn-epoch replay (the member-recompute branch, i.e.
    the exact old hardcode site) both admit the float twin's set."""
    from real_time_crypto_market_data_pipeline_spark.operators import similarity as S
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    seed = spark.createDataFrame([(i, _unit(i)) for i in range(8)], ddl)
    batch = spark.createDataFrame(
        [(20, _mix(0, 1)), (21, _unit(3, scale=2.0))], ddl)
    i1, i2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    for idx in (i1, i2):
        D.semantic_index_build(seed, idx, num_cells=8, threshold=0.9)
    K.semantic_dedup_batch_writer(i1, str(tmp_path / "o1"), "ck")(batch, 0)
    flt = {r.vec_id for r in
           spark.read.parquet(f"{tmp_path}/o1/epoch=0").collect()}
    assert flt == {20}  # mix is new at 0.9; 21 dups seed axis 3
    wire = S.sq8_encode(batch).withColumnsRenamed(
        {"__q8": "q8_wire", "__amax": "scale_wire"})
    out = str(tmp_path / "o2")
    write = K.semantic_dedup_batch_writer(
        i2, out, "ck", codes_col="q8_wire", amax_col="scale_wire")
    write(wire, 0)  # fresh epoch: probe shares assigned into member
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == flt
    write(wire, 0)  # replay: member RECOMPUTES codes via amax_col
    assert {r.vec_id for r in
            spark.read.parquet(f"{out}/epoch=0").collect()} == flt


def test_compaction_firing_pause_bounded_per_bucket(spark, tmp_path):
    """r18 (verdict item 1 of the capability gaps): _maybe_compact_kept
    rewrites at most max_buckets_per_firing buckets per firing, WORST
    (most-fragmented) first; buckets not selected hardlink through with
    the SAME inodes (zero byte copy), and overflow buckets lead the next
    firing - so the in-line pause is capped at ~cap/num_buckets of the
    old full rewrite while the amortized cost is unchanged. Rows are
    byte-identical across firings."""
    import glob
    import os

    idx = tmp_path / "idx"
    kept = idx / "kept"
    for b, nfiles in [(0, 3), (1, 2), (2, 1)]:
        for j in range(nfiles):
            spark.createDataFrame([(b * 10 + j,)], "doc_id long").coalesce(
                1).write.mode("append").parquet(str(kept / f"bkt={b}"))
    rows = lambda: {(r.doc_id, r.bkt) for r in  # noqa: E731
                    spark.read.parquet(str(kept)).collect()}
    nfiles = lambda b: len(glob.glob(str(kept / f"bkt={b}" / "*.parquet")))  # noqa: E731
    inodes = lambda b: {os.stat(f).st_ino for f in  # noqa: E731
                        glob.glob(str(kept / f"bkt={b}" / "*.parquet"))}
    before, ino1, ino2 = rows(), inodes(1), inodes(2)
    # firing 1: only bkt=0 (3 files, worst) rewrites; 1 and 2 hardlink
    assert D._maybe_compact_kept(spark, str(idx), 1, max_buckets_per_firing=1)
    assert (nfiles(0), nfiles(1), nfiles(2)) == (1, 2, 1)
    assert inodes(1) == ino1 and inodes(2) == ino2  # linked, not copied
    assert rows() == before
    # firing 2: the overflow bucket bkt=1 leads; bkt=0/2 now compact
    assert D._maybe_compact_kept(spark, str(idx), 1, max_buckets_per_firing=1)
    assert (nfiles(0), nfiles(1), nfiles(2)) == (1, 1, 1)
    assert rows() == before
    # nothing over threshold left: the policy no-ops
    assert not D._maybe_compact_kept(spark, str(idx), 1, max_buckets_per_firing=1)


def test_incremental_probes_thread_firing_cap(spark, tmp_path, monkeypatch):
    """r18/r19: the per-firing rewrite cap AND byte budget are PUBLIC
    knobs on both incremental probes (pause-vs-frequency tuning must not
    require reaching into the private compactor), arriving intact."""
    seen = []
    real = D._maybe_compact_kept
    monkeypatch.setattr(
        D, "_maybe_compact_kept",
        lambda sp, d, m, cap=128, budget=256 << 20:
        seen.append((cap, budget)) or real(sp, d, m, cap, budget))
    idx = str(tmp_path / "lsh")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    D.lsh_dedup_incremental(_docs(spark, [(10, _ctext(10))]), idx,
                            compact_files_per_bucket=1,
                            compact_buckets_per_firing=7,
                            compact_bytes_per_firing=70_000).count()
    sidx = str(tmp_path / "sem")
    D.semantic_index_build(spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>"),
        sidx, num_cells=8, threshold=0.9)
    D.semantic_dedup_incremental(
        spark.createDataFrame([(20, _mix(0, 1))],
                              "vec_id LONG, embedding ARRAY<DOUBLE>"),
        sidx, threshold=0.9, compact_files_per_bucket=1,
        compact_buckets_per_firing=9, compact_bytes_per_firing=None).count()
    assert seen == [(7, 70_000), (9, None)]


def test_compact_rejects_nonpositive_firing_bounds(spark, tmp_path):
    """r18 ADVICE: max_buckets_per_firing <= 0 used to hardlink the
    whole tree and swap it on EVERY firing while compacting nothing -
    permanent no-progress churn. Both firing bounds now validate before
    any tree is built (byte budget: None disables, 0/-1 are config
    errors)."""
    idx = tmp_path / "idx"
    (idx / "kept").mkdir(parents=True)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_buckets_per_firing"):
            D._maybe_compact_kept(spark, str(idx), 1,
                                  max_buckets_per_firing=bad)
        with pytest.raises(ValueError, match="max_bytes_per_firing"):
            D._maybe_compact_kept(spark, str(idx), 1,
                                  max_bytes_per_firing=bad)


def test_compaction_firing_byte_budget_bounds_slice(spark, tmp_path):
    """r19 (verdict item 2): the firing slice is bounded by INPUT BYTES -
    index-size-independent, unlike a bucket-count cap (~cap x
    residents/num_buckets at fixed fan-out). Worst-first buckets rewrite
    until the budget is spent; the worst bucket ALWAYS rewrites
    (progress even when it alone exceeds the budget); the rest keep
    their files and lead the next firing. Rows byte-identical."""
    import glob
    import os

    idx = tmp_path / "idx"
    kept = idx / "kept"
    for b, nf in [(0, 4), (1, 3), (2, 2)]:
        for j in range(nf):
            spark.createDataFrame([(b * 10 + j,)], "doc_id long").coalesce(
                1).write.mode("append").parquet(str(kept / f"bkt={b}"))
    rows = lambda: {(r.doc_id, r.bkt) for r in  # noqa: E731
                    spark.read.parquet(str(kept)).collect()}
    nfiles = lambda b: len(glob.glob(str(kept / f"bkt={b}" / "*.parquet")))  # noqa: E731
    before = rows()
    b0 = sum(os.path.getsize(f)
             for f in glob.glob(str(kept / "bkt=0" / "*.parquet")))
    # budget == worst-bucket bytes: bkt=0 rewrites, spent >= budget stops bkt=1
    assert D._maybe_compact_kept(spark, str(idx), 1, max_bytes_per_firing=b0)
    assert (nfiles(0), nfiles(1), nfiles(2)) == (1, 3, 2)
    assert rows() == before
    # sub-bucket budget: the carried-over worst (bkt=1) still rewrites
    assert D._maybe_compact_kept(spark, str(idx), 1, max_bytes_per_firing=1)
    assert (nfiles(0), nfiles(1), nfiles(2)) == (1, 1, 2)
    # None disables the budget: the remainder compacts in one firing
    assert D._maybe_compact_kept(spark, str(idx), 1, max_bytes_per_firing=None)
    assert (nfiles(0), nfiles(1), nfiles(2)) == (1, 1, 1)
    assert rows() == before
    assert not D._maybe_compact_kept(spark, str(idx), 1)  # steady state


def test_dedup_sinks_thread_compaction_knobs(spark, tmp_path, monkeypatch):
    """r19 (verdict item 3): the compaction knobs are PUBLIC on both
    streaming twins - compact_files_per_bucket=None disables compaction
    through the sink API (the compactor never fires) with admit parity
    intact, and a custom cap/budget reaches the compactor verbatim."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    seen = []
    real = D._maybe_compact_kept
    monkeypatch.setattr(
        D, "_maybe_compact_kept",
        lambda sp, d, m, cap=128, budget=256 << 20:
        seen.append((m, cap, budget)) or real(sp, d, m, cap, budget))
    idx = str(tmp_path / "lsh")
    D.lsh_index_build(_docs(spark, [(0, _ctext(0))]), idx)
    out = str(tmp_path / "adm")
    K.lsh_dedup_batch_writer(idx, out, checkpoint="ck",
                             compact_files_per_bucket=None)(
        _docs(spark, [(10, _ctext(0)), (11, _ctext(1))]), 0)
    assert seen == []  # None: disabled end-to-end, not defaulted back on
    assert {r.doc_id for r in  # parity: 10 dups seed 0, 11 admits
            spark.read.parquet(f"{out}/epoch=0").collect()} == {11}
    K.lsh_dedup_batch_writer(idx, out, checkpoint="ck",
                             compact_files_per_bucket=1,
                             compact_buckets_per_firing=5,
                             compact_bytes_per_firing=555)(
        _docs(spark, [(12, _ctext(2))]), 1)
    assert seen == [(1, 5, 555)]
    sidx = str(tmp_path / "sem")
    D.semantic_index_build(spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)], "vec_id LONG, embedding ARRAY<DOUBLE>"),
        sidx, num_cells=8, threshold=0.9)
    sout = str(tmp_path / "sadm")
    seen.clear()
    vecs = spark.createDataFrame([(20, _unit(0)), (21, _mix(3, 4))],
                                 "vec_id LONG, embedding ARRAY<DOUBLE>")
    K.semantic_dedup_batch_writer(sidx, sout, checkpoint="ck",
                                  compact_files_per_bucket=None)(vecs, 0)
    assert seen == []
    assert {r.vec_id for r in  # parity: 20 dups seed 0, 21 is a new mix
            spark.read.parquet(f"{sout}/epoch=0").collect()} == {21}
    K.semantic_dedup_batch_writer(sidx, sout, checkpoint="ck",
                                  compact_files_per_bucket=1,
                                  compact_buckets_per_firing=6,
                                  compact_bytes_per_firing=666)(
        spark.createDataFrame([(22, _mix(5, 6))],
                              "vec_id LONG, embedding ARRAY<DOUBLE>"), 1)
    assert seen == [(1, 6, 666)]


def test_dedup_sinks_validate_knobs_at_construction(spark, tmp_path):
    """r19 ADVICE: a bad firing bound used to surface only inside
    _maybe_compact_kept - a repeated foreachBatch failure after the
    stream started. Both writer factories now raise at CONSTRUCTION,
    before any batch (and so before .start() on the sink wrappers)."""
    from real_time_crypto_market_data_pipeline_spark.streaming import sinks as K

    for factory in (K.lsh_dedup_batch_writer, K.semantic_dedup_batch_writer):
        with pytest.raises(ValueError, match="max_buckets_per_firing"):
            factory(str(tmp_path / "i"), str(tmp_path / "o"), "ck",
                    compact_buckets_per_firing=0)
        with pytest.raises(ValueError, match="max_bytes_per_firing"):
            factory(str(tmp_path / "i"), str(tmp_path / "o"), "ck",
                    compact_bytes_per_firing=-1)


def test_compaction_firing_rewrites_in_one_job(spark, tmp_path, monkeypatch):
    """r20 (verdict item 2): ALL selected buckets rewrite via a single
    read->repartition(bkt)->partitionBy(bkt) job, not one sequential
    coalesce(1) job per bucket (~3 s of scheduler overhead at 16
    buckets) - pinned by counting reader invocations in one firing."""
    import glob

    from pyspark.sql.readwriter import DataFrameReader

    idx = tmp_path / "idx"
    kept = idx / "kept"
    for b in range(5):
        for j in range(3):
            spark.createDataFrame([(b * 10 + j,)], "doc_id long").coalesce(
                1).write.mode("append").parquet(str(kept / f"bkt={b}"))
    before = {(r.doc_id, r.bkt) for r in spark.read.parquet(str(kept)).collect()}
    reads, real = [], DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *p: reads.append(p) or real(self, *p))
    assert D._maybe_compact_kept(spark, str(idx), 1)
    assert len(reads) == 1 and len(reads[0]) == 5  # one job, all 5 dirs
    monkeypatch.undo()
    for b in range(5):
        assert len(glob.glob(str(kept / f"bkt={b}" / "*.parquet"))) == 1
    assert {(r.doc_id, r.bkt)
            for r in spark.read.parquet(str(kept)).collect()} == before
