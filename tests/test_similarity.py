"""Similarity search: brute-force cosine top-k and IVF probe semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from real_time_crypto_market_data_pipeline_spark.operators import similarity as S
from real_time_crypto_market_data_pipeline_spark.session import query_scope


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)], i % 3) for i in range(64)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")


def test_self_similarity_is_top_hit(emb):
    top = S.cosine_topk(emb, query_vec_id=5, k=3).collect()
    assert top[0].vec_id == 5
    assert math.isclose(top[0].cosine, 1.0, rel_tol=1e-9)
    assert top[0].cosine >= top[1].cosine >= top[2].cosine


def test_topk_matches_numpy_bruteforce(emb):
    import numpy as np

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[5]
    sims = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for i, v in vecs.items()
    }
    expect = sorted(sims, key=lambda i: (-sims[i], i))[:10]
    got = [r.vec_id for r in S.cosine_topk(emb, query_vec_id=5, k=10).collect()]
    assert got == expect


def test_ivf_assign_every_vector_once(emb):
    a = S.ivf_assign(emb, num_cells=4)
    assert a.count() == 64
    assert a.select("vec_id").distinct().count() == 64
    cells = {r.cell_id for r in a.collect()}
    assert cells <= {0, 1, 2, 3}
    # centroids assign to themselves
    own = {r.vec_id: r.cell_id for r in a.collect() if r.vec_id < 4}
    assert own == {0: 0, 1: 1, 2: 2, 3: 3}


def test_ivf_assign_corpus_never_shuffles(emb):
    """The quantizer assignment's scale property, pinned in the plan:
    the corpus pass is ONE narrow mapInPandas - no Exchange of any
    kind (the r7 fold form still attached the index via a broadcast
    join; the r8 Arrow form ships it in the task closure), so the
    assignment composes with any downstream partitioning for free."""
    plan = (
        S.ivf_assign(emb, num_cells=16, keep_vec=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_arrow_assignment_equals_fold_reference(emb):
    """The BLAS-batched assignment must place every vector in the same
    cell as the retired expression-fold form (tests/_reference_impls),
    whose sequential dots are the oracle's bit-exact shape - pinning
    that the r8 kernel swap changed the arithmetic engine, not the
    routing semantics. C=40 exercises three distinct levels (4/16/40);
    C=16 a degenerate two-level tree (3/9 -> 16)."""
    from tests._reference_impls import fold_assign_cells

    for c in (16, 40):
        cents = emb.where(F.col("vec_id") < c).select(
            F.col("vec_id").cast("long").alias("cell_id"),
            F.col("embedding").alias("cvec"),
        )
        got = {
            r.vec_id: r.cell_id
            for r in S.assign_cells(emb, cents, c).collect()
        }
        want = {
            r.vec_id: r.cell_id
            for r in fold_assign_cells(emb, cents, c).collect()
        }
        assert got == want


def test_ivf_assign_partition_layout_invariant(emb):
    """Assignment is a pure per-row computation over a deterministic
    broadcast index: repartitioning the corpus must not move any
    vector to a different cell."""
    a = {r.vec_id: r.cell_id for r in S.ivf_assign(emb, num_cells=16).collect()}
    b = {
        r.vec_id: r.cell_id
        for r in S.ivf_assign(emb.repartition(7, "label"), num_cells=16).collect()
    }
    assert a == b


def test_ivf_topk_subset_of_cell(emb):
    res = S.ivf_topk(emb, query_vec_id=5, k=5, num_cells=4)
    rows = res.collect()
    assert len(rows) == 5
    assert len({r.cell_id for r in rows}) == 1  # single probed cell
    assert rows[0].vec_id == 5  # query finds itself in its own cell


def test_arrow_cosine_matches_expression_path(emb):
    """The numpy-matmul mapInPandas path returns the same top-k as the
    expression-fold path (high-dim production form vs oracle form)."""
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") == 5).first().embedding
    expr_top = [(r.vec_id, round(r.cosine, 9)) for r in S.cosine_topk(emb, 5, k=10).collect()]
    arrow_top = [
        (r.vec_id, round(r.cosine, 9))
        for r in S.cosine_topk_arrow(emb, [float(x) for x in q], k=10).collect()
    ]
    assert arrow_top == expr_top


def test_hyperplane_lsh_similar_vectors_collide(spark):
    """Sign-bit signatures: Hamming distance tracks the angle - an
    identical vector matches exactly, a tiny perturbation flips at
    most a bit or two, an orthogonal vector flips ~half the bits."""
    base = [1.0] * 8 + [0.0] * 8
    same = [2.0] * 8 + [0.0] * 8  # same direction, different norm
    near = [1.0] * 8 + [0.01] * 8
    ortho = [0.0] * 8 + [1.0] * 8
    emb = spark.createDataFrame(
        [(0, base), (1, same), (2, near), (3, ortho)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {
        r.vec_id: r.bucket
        for r in S.hyperplane_lsh_buckets(emb, num_bits=16, dims=16).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert got[0] == got[1]  # direction-only: identical signature
    assert ham(got[0], got[2]) <= 2  # tiny angle: at most a couple bits
    assert ham(got[0], got[3]) >= 4  # orthogonal: many bits differ


def test_hyperplane_lsh_deterministic_and_shuffle_free(emb):
    b1 = {r.vec_id: r.bucket for r in S.hyperplane_lsh_buckets(emb, dims=16).collect()}
    b2 = {
        r.vec_id: r.bucket
        for r in S.hyperplane_lsh_buckets(emb.repartition(7), dims=16).collect()
    }
    assert b1 == b2
    plan = (
        S.hyperplane_lsh_buckets(emb, dims=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_highdim_fold_and_arrow_paths_agree(spark):
    """The 1024-dim perf twins must return the same top-k (same ids,
    same cosines to float tolerance) - and both must equal the base
    64-dim ranking, since tiling preserves cosine.

    The fold path is built directly from the operator here (its registry
    entry q_cosine_topk_fold_highdim was retired in round 6 - see
    SCALING.md "High-dim cosine: fold vs Arrow"), so the expression-fold
    kernel at high dims stays value-checked against the Arrow kernel."""
    from real_time_crypto_market_data_pipeline_spark.plans import QUERIES
    from real_time_crypto_market_data_pipeline_spark.plans.ext_queries import (
        _highdim_embeddings,
    )

    sf = "/root/testdata/sf0.001"
    fold = S.cosine_topk(_highdim_embeddings(spark, sf), query_vec_id=0, k=10).collect()
    arrow = QUERIES["q_cosine_topk_arrow_highdim"](spark, sf).collect()
    base = QUERIES["q_cosine_topk"](spark, sf).collect()
    assert [r.vec_id for r in fold] == [r.vec_id for r in arrow]
    assert [r.vec_id for r in fold] == [r.vec_id for r in base]
    for f, a in zip(fold, arrow):
        assert abs(f.cosine - a.cosine) < 1e-9


def test_ivf_kmeans_full_probe_equals_exact(spark):
    """n_probe == num_cells covers the corpus: identical to brute force
    for ANY trained model (the driver-oracle invariant)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = S.cosine_topk(emb, query_vec_id=0, k=10).collect()
    full = S.ivf_kmeans_topk(
        emb, query_vec_id=0, k=10, num_cells=8, n_probe=8
    ).collect()
    assert [(r.vec_id, r.cosine) for r in full] == [
        (r.vec_id, r.cosine) for r in exact
    ]


def test_ivf_kmeans_partial_probe_recall(spark):
    """Partial probing must return EXACTLY the achievable recall: every
    true top-10 id whose assigned cell is probed appears in the result
    with its exact cosine. The expected set is derived from the trained
    model's actual cell membership (not a fixed recall constant), so
    the test cannot flake when k-means partitioning shifts across core
    counts or Spark versions."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {r.vec_id: r.cosine for r in S.cosine_topk(emb, 0, k=10).collect()}

    model, assigned = S.ivf_kmeans_index(emb, num_cells=8)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    probe = S.ivf_kmeans_probe_cells(model, qvec, n_probe=3)
    cell_of = {
        r.vec_id: r.cell_id
        for r in assigned.where(F.col("vec_id").isin(list(exact)))
        .select("vec_id", "cell_id")
        .collect()
    }
    achievable = {v for v in exact if cell_of[v] in probe}

    part = {
        r.vec_id: r.cosine
        for r in S.ivf_kmeans_topk(
            emb, query_vec_id=0, k=10, num_cells=8, n_probe=3
        ).collect()
    }
    # any probed candidate outside the true top-10 scores below every
    # achievable id, so the probed top-10 must contain all of them
    assert achievable <= set(part)
    # the query itself (cosine 1.0) sits in a probed cell: recall > 0
    assert 0 in achievable
    for v in set(part) & set(exact):
        assert part[v] == exact[v]  # scores are exact, only the candidate set shrinks


def test_ivf_kmeans_training_sample_is_partition_layout_invariant(spark):
    """The training sample is chosen by stable-hash order, not by
    whichever partitions answer a LocalLimit first - so the trained
    centroids (and the index layout) are identical no matter how the
    input happens to be partitioned (ADVICE r4: reproducible index
    builds at scale)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    model_a, _ = S.ivf_kmeans_index(emb, num_cells=4, training_cap=200)
    model_b, _ = S.ivf_kmeans_index(
        emb.repartition(7, "label"), num_cells=4, training_cap=200
    )
    centers_a = [list(c) for c in model_a.clusterCenters()]
    centers_b = [list(c) for c in model_b.clusterCenters()]
    assert centers_a == centers_b


def test_assign_cells_rejects_noncontiguous_cell_ids(emb):
    """r8 ADVICE: the routing levels are id prefixes and the oracle
    selects them BY VALUE, so sparse/offset cell_ids must fail fast
    instead of silently diverging from the oracle's level sets."""
    sparse = emb.where(F.col("vec_id").isin([0, 2, 5, 9])).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    )
    with pytest.raises(ValueError, match="0..num_cells-1"):
        S.assign_cells(emb, sparse, 4).collect()


def test_zero_norm_vectors_route_and_survive_semdedup(spark):
    """r8 ADVICE: zero-norm vectors score cosine 0 everywhere (the
    greatest(norm, eps) policy), so assignment stays NaN-free and
    SemDeDup keeps them rather than NaN-dropping them."""
    import random

    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D

    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows[17] = (17, [0.0] * 8)  # corpus zero vector (not a centroid)
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    assigned = {r.vec_id: r.cell_id for r in S.ivf_assign(e, num_cells=4).collect()}
    assert len(assigned) == 40 and assigned[17] in {0, 1, 2, 3}
    kept = {r.vec_id for r in D.semantic_dedup(e, num_cells=4, threshold=0.9).collect()}
    assert 17 in kept


def test_ivf_topk_capped_probes_one_ring_on_testdata(spark):
    """q_ann_ivf's registered shape on the real sf0.001/sf0.01 corpus:
    every capped cell size <= max_cell, and the probe's hits all carry
    the query's ring cell."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = load(spark, sf, "embeddings")
        assigned = S.ivf_assign(e, num_cells=8, max_cell=80)
        sizes = assigned.groupBy("cell_id").count().collect()
        assert max(r["count"] for r in sizes) <= 80
        hits = S.ivf_topk(e, query_vec_id=0, k=5, num_cells=8, max_cell=80).collect()
        assert len({r.cell_id for r in hits}) == 1 and len(hits) == 5


def test_max_cell_validation_rejects_bool_zero_float(spark):
    """check_cap mirrors the bin_width rule: Integral only, bool and
    non-positives rejected before they become kernel crashes."""
    import numpy as np
    import pytest

    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D

    e = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>")
    for bad in (0, -5, True, False, 2.5, "64"):
        with pytest.raises(ValueError, match="max_cell"):
            S.ivf_assign(e, num_cells=1, max_cell=bad)
        with pytest.raises(ValueError, match="max_cell"):
            D.semantic_dedup(e, num_cells=1, max_cell=bad)
    assert S.check_cap(np.int64(64)) == 64 and S.check_cap(None) is None


def test_ring_tiles_exact_tiling_invariants():
    """Tile sizes differ by at most 1, every ring <= ceil(n/k), labels
    are a permutation-stable function of (ids, cosine ranks)."""
    import numpy as np

    rng = np.random.RandomState(7)
    for n, k in [(10, 2), (11, 3), (250, 7), (999, 4), (5, 5)]:
        ids = np.arange(n)
        V = rng.randn(n, 8)
        Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
        tile = S.ring_tiles(ids, V, Vn, k)
        sizes = np.bincount(tile, minlength=k)
        assert sizes.sum() == n and sizes.max() - sizes.min() <= 1
        assert sizes.max() == -(-n // k)


def test_split_hot_cells_caps_sizes_and_preserves_cold_cells(spark):
    """r9 hot-cell split: a deliberately skewed corpus (most vectors
    near one centroid) gets its hot cell recursively split under the
    cap, cold cells keep their assignment bit-for-bit, the id space
    stays collision-free, and a high cap is the identity."""
    import random

    rnd = random.Random(11)
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    rows = []
    for i in range(200):
        if i >= 8 and i % 10 != 0:  # ~170 vectors crowd centroid 0's cell
            v = [b + rnd.uniform(-0.05, 0.05) for b in base]
        else:
            v = [rnd.uniform(-1, 1) for _ in range(16)]
    # centroid 0 sits at the crowd's center so the crowd routes to cell 0
        rows.append((i, base if i == 0 else v, 0))
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")

    plain = {r.vec_id: r.cell_id for r in S.ivf_assign(e, num_cells=8).collect()}
    sizes = {}
    for c in plain.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert max(sizes.values()) > 64  # the skew is real

    capped = {r.vec_id: r.cell_id for r in S.ivf_assign(e, num_cells=8, max_cell=24).collect()}
    assert set(capped) == set(plain)  # every vector assigned exactly once
    cap_sizes = {}
    for c in capped.values():
        cap_sizes[c] = cap_sizes.get(c, 0) + 1
    assert max(cap_sizes.values()) <= 24  # converged under the cap
    hot = {c for c, n in sizes.items() if n > 24}
    for v, c in plain.items():
        if c not in hot:
            assert capped[v] == c  # cold cells untouched
        else:
            assert capped[v] >= 8  # split ids live above the 0..C-1 range

    ident = {r.vec_id: r.cell_id for r in S.ivf_assign(e, num_cells=8, max_cell=500).collect()}
    assert ident == plain  # high cap: no round runs, assignment unchanged


# ---------------------------------------------------------------- r10


def test_assign_cells_broadcast_path_matches_closure(emb):
    """SCALING.md crossover, now in code: past broadcast_threshold_bytes
    the centroid index ships as ONE SparkContext.broadcast per executor
    instead of per-task closure re-serialization; assignments must be
    bit-identical either way."""
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec"))
    closure = {r.vec_id: r.cell_id for r in S.assign_cells(emb, cents, 16).collect()}
    bcast = {r.vec_id: r.cell_id for r in
             S.assign_cells(emb, cents, 16, broadcast_threshold_bytes=0).collect()}
    assert bcast == closure and len(closure) == 64


def test_int8_transport_matches_numpy_replay_on_testdata(spark):
    """transport='int8' routes on the RAW int8 codes (r15): replay
    quantize -> three-hop descent in pure numpy over the real sf0.001
    corpus and demand bit-identical assignments."""
    import numpy as np

    from real_time_crypto_market_data_pipeline_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    assert [r.vec_id for r in rows] == list(range(len(rows)))
    Q = S._sq8_quant_np(
        np.stack([np.asarray(r.embedding, np.float64) for r in rows])
    )[0].astype(np.float64)
    num_cells = max(8, len(rows) // 250)
    C = Q[:num_cells]
    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)
    g1 = S._cbrt_ceil(num_cells)
    sizes = sorted({g1, min(num_cells, g1 * g1), num_cells})
    kids = S._routing_tree(C, Cn, sizes)
    Qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-12)
    expect = S._route(C, Cn, kids, sizes, Q, Qn, len(sizes))
    got = {r.vec_id: r.cell_id for r in S.ivf_assign(e, transport="int8").collect()}
    assert got == {r.vec_id: int(expect[i]) for i, r in enumerate(rows)}


def test_derived_num_cells_clamps_to_tiny_corpus(spark):
    """r9 ADVICE: a corpus smaller than the derived C = max(8, n//250)
    clamps C to n (ids dense-from-0) instead of failing the strict
    0..C-1 centroid check; user-supplied cents keep the fail-fast."""
    rows = [(i, [float(i + 1), 1.0]) for i in range(5)]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r.vec_id: r.cell_id for r in S.ivf_assign(e).collect()}
    assert set(got) == set(range(5)) and all(0 <= c < 5 for c in got.values())


def test_split_hot_cells_reliable_checkpoint_dir(spark, tmp_path):
    """r9 ADVICE: checkpoint_dir threads ivf_assign -> split_hot_cells
    and switches the executor-pinned localCheckpoint to a RELIABLE
    checkpoint (the connected_components policy); results unchanged."""
    import random

    rnd = random.Random(5)
    base = [rnd.uniform(-1, 1) for _ in range(8)]
    rows = [(i, [b + rnd.uniform(-0.05, 0.05) for b in base] if i >= 4
             else [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    plain = {r.vec_id: r.cell_id
             for r in S.ivf_assign(e, num_cells=4, max_cell=32).collect()}
    assert max(list(plain.values()).count(c) for c in set(plain.values())) <= 32
    ck = {r.vec_id: r.cell_id for r in S.ivf_assign(
        e, num_cells=4, max_cell=32, checkpoint_dir=str(tmp_path)).collect()}
    assert ck == plain and spark.sparkContext.getCheckpointDir() is not None


def test_childless_twin_centroid_tolerated_degenerate_still_raises(spark):
    """r9 ADVICE: an exact-duplicate centroid that captures no children
    no longer fails the build - every cosine against the copy ties
    bit-for-bit, so first-max / the oracle's lowest-id rule provably
    never selects it in either engine. A childless parent WITHOUT a
    bit-identical earlier twin (here a power-of-2 scaled colinear copy:
    cosine exactly 1.0, different bits) still fails fast at build."""
    def cents_df(vec1):
        rows = [(0, [1.0, 0.0, 0.0]), (1, vec1),
                (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
        return spark.createDataFrame(rows, "cell_id LONG, cvec ARRAY<DOUBLE>")

    corpus = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
         for i in range(12)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r.vec_id: r.cell_id for r in
           S.assign_cells(corpus, cents_df([1.0, 0.0, 0.0]), 4).collect()}
    assert len(got) == 12 and 1 not in got.values()  # twin never selected
    with pytest.raises(ValueError, match="captured no children"):
        S.assign_cells(corpus, cents_df([2.0, 0.0, 0.0]), 4).collect()


def test_sq8_wire_jvm_matches_worker_quantizer(emb):
    """The JVM sq8_wire expressions (scalar_quantize_int8's kernel) and
    the worker-side numpy quantizer (assign_cells transport='int8')
    are the SAME function, code-for-code and amax-for-amax - including
    a zero vector (amax 0 -> zero codes) and exact +-amax endpoints."""
    import numpy as np

    edge = emb.sparkSession.createDataFrame(
        [(1000, [0.0] * 16, 0), (1001, [1.0, -1.0] + [0.5] * 14, 0)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    df = emb.unionByName(edge)
    codes, amax = S.sq8_wire("embedding")
    jvm = {r.vec_id: (list(r.q8), r.amax) for r in
           df.select("vec_id", codes.alias("q8"), amax.alias("amax")).collect()}
    for r in df.collect():
        V = np.asarray(r.embedding, dtype=np.float64)[None, :]
        am = np.abs(V).max(axis=1)
        a = np.where(am > 0, am, 1.0)
        q8 = np.floor(V * 127.0 / a[:, None] + 0.5).astype(np.int8)
        assert jvm[r.vec_id] == (list(q8[0]), am[0])
    assert jvm[1000] == ([0] * 16, 0.0)
    assert jvm[1001][0][:2] == [127, -127]


def test_semdedup_int8_plan_shuffles_tinyint_wire(spark):
    """transport='int8' must carry __q8 BINARY (one 64-byte blob per
    row, no per-element Arrow offsets) + __amax through
    the cell_id exchange and the pairwise pipe - the float vector
    column must be GONE from everything ABOVE the assign MapInPandas
    (the ~4x byte cut is a plan property, not a hope). r12: the whole
    dedup is ONE unbroken pipeline - scan -> assign -> one exchange ->
    kept-direct kernel; no checkpoint scan, no anti-join stage."""
    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = D.semantic_dedup(e, transport="int8")
    plan = out._jdf.queryExecution().executedPlan().toString()
    post_assign = plan.split("+- MapInPandas")[0]  # everything above assign
    assert "__q8" in post_assign and "__amax" in post_assign
    assert "embedding" not in post_assign  # float leg ends at the assign worker
    assert "Exchange hashpartitioning(cell_id" in plan  # the ONE shuffle
    assert plan.count("Exchange") == 1 and "Join" not in plan  # kept-direct


def test_sq8_reconstruction_error_bounded_per_element(emb):
    """SQ8 epsilon contract: |x - dequant(quant(x))| <= amax/127/2 + ulp
    per element (floor(v+0.5) rounds to the nearest code), which is the
    ~1e-3-cosine figure the semantic_dedup docstring quotes."""
    import numpy as np

    V = np.stack([np.asarray(r.embedding, np.float64) for r in emb.collect()])
    Q = S._sq8_roundtrip_np(V)
    amax = np.abs(V).max(axis=1, keepdims=True)
    bound = amax / 127.0 / 2.0 * (1 + 1e-9)
    assert (np.abs(V - Q) <= bound).all()
    assert (np.abs(V - Q) > bound * 0.5).any()  # bound is tight, not slack


def test_sq8_encode_codes_on_disk_assign_bitequal(spark, tmp_path):
    """r11: the codes-on-disk path. sq8_encode materializes the wire at
    ingest (parquet roundtrip included - the actual use pattern); feeding
    it back via codes_col must reproduce transport='int8' BIT-FOR-BIT:
    same assignments AND the same __q8/__amax wire bytes downstream, on
    every testdata embeddings table - while never touching the float
    column (the input literally does not have one)."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = load(spark, sf, "embeddings")
        path = str(tmp_path / f"codes_{sf.rsplit('sf', 1)[1]}")
        S.sq8_encode(e).write.parquet(path)
        codes = spark.read.parquet(path)
        assert set(codes.columns) == {"vec_id", "__q8", "__amax"}
        want = {r.vec_id: (r.cell_id, bytes(r["__q8"]), r["__amax"]) for r in
                S.ivf_assign(e, transport="int8", keep_vec=True).collect()}
        got = {r.vec_id: (r.cell_id, bytes(r["__q8"]), r["__amax"]) for r in
               S.ivf_assign(codes, codes_col="__q8", keep_vec=True).collect()}
        assert got == want and len(got) == e.count()


def test_semdedup_codes_col_kept_set_bitequal(spark, tmp_path):
    """r11 acceptance: semantic_dedup(codes_col=) kept-set == the
    transport='int8' kept-set, bit-identical (ids AND cells), on all
    testdata - the oracle needn't move because the results don't."""
    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D
    from real_time_crypto_market_data_pipeline_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = load(spark, sf, "embeddings")
        codes = S.sq8_encode(e)
        want = {(r.vec_id, r.cell_id)
                for r in D.semantic_dedup(e, transport="int8").collect()}
        got = {(r.vec_id, r.cell_id)
               for r in D.semantic_dedup(codes, codes_col="__q8").collect()}
        assert got == want and len(got) > 0


def test_semdedup_codes_col_with_cap_fails_fast(spark):
    """max_cell's ring split re-routes on float vectors, so the codes
    path (like transport='int8') must refuse it loudly."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="ring split carries float"):
        S.ivf_assign(S.sq8_encode(e), codes_col="__q8", max_cell=100)


@pytest.fixture
def broadcasts(monkeypatch):
    """(created, released) Broadcast logs for the test's duration."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    created, released = [], []
    real_new, real_unpersist = SparkContext.broadcast, Broadcast.unpersist

    def new(self, value):
        created.append(real_new(self, value))
        return created[-1]

    def unpersist(self, blocking=False):
        released.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", new)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    return created, released


@pytest.fixture
def forced_broadcast(monkeypatch):
    """Every assign_cells call ships its index as a broadcast."""
    real = S.assign_cells
    monkeypatch.setattr(
        S, "assign_cells",
        lambda *a, **kw: real(*a, **{**kw, "broadcast_threshold_bytes": 0}))


def test_assign_cells_broadcast_released_by_scope(emb, broadcasts):
    """r11 (VERDICT nit): past the broadcast crossover the index ships as
    ONE Broadcast pinned into the caller's query scope - live while the
    result materializes, unpersisted when the scope closes; the closure
    path creates none."""
    created, released = broadcasts
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec"))
    with query_scope():
        assert S.assign_cells(emb, cents, 8, broadcast_threshold_bytes=0).count() == 64
        assert len(created) == 1 and released == []
    assert released == created
    assert S.assign_cells(emb, cents, 8).count() == 64
    assert len(created) == 1  # closure path: no broadcast


def test_semdedup_codes_plan_never_touches_float(spark, tmp_path):
    """Plan property for codes-on-disk: the ENTIRE semantic_dedup plan
    - scan, assign, checkpoint, cell exchange, pairwise - carries only
    the BINARY wire; no float embedding column exists anywhere (the
    input-leg cut is a plan fact, not a hope), and the parquet scan
    reads exactly the three wire columns."""
    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "codes")
    S.sq8_encode(e).write.parquet(path)
    out = D.semantic_dedup(spark.read.parquet(path), codes_col="__q8")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__q8" in plan and "__amax" in plan
    assert "embedding" not in plan  # no float leg, input included
    assert "Exchange hashpartitioning(cell_id" in plan  # still the ONE shuffle
    # the checkpoint swallows the scan above, so pin it on the assign stage
    aplan = S.ivf_assign(spark.read.parquet(path), codes_col="__q8",
                         keep_vec=True)._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in aplan.splitlines() if "Scan parquet" in l)
    assert "vec_id" in scan and "__q8" in scan and "embedding" not in scan


def test_codes_col_tiny_corpus_clamp_and_reliable_checkpoint(spark, tmp_path):
    """Codes-mode edge seams: (1) the n<8 derived-cells clamp also
    holds when centroids come from CODE rows (5-vector corpus trains
    on all 5); (2) semantic_dedup(codes_col=) composes with a reliable
    checkpoint_dir, results unchanged vs localCheckpoint."""
    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D
    from real_time_crypto_market_data_pipeline_spark.tables import load

    tiny = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(5)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r.vec_id: r.cell_id
           for r in S.ivf_assign(S.sq8_encode(tiny), codes_col="__q8").collect()}
    assert set(got) == set(range(5)) and all(0 <= c < 5 for c in got.values())
    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    codes = S.sq8_encode(e)
    plain = {(r.vec_id, r.cell_id)
             for r in D.semantic_dedup(codes, codes_col="__q8").collect()}
    ck = {(r.vec_id, r.cell_id) for r in D.semantic_dedup(
        codes, codes_col="__q8", checkpoint_dir=str(tmp_path)).collect()}
    assert ck == plain and len(plain) > 0


def test_codes_col_broadcast_path_matches_closure(spark):
    """The 128 MB broadcast crossover composes with codes mode: the
    index payload built from DEQUANTIZED code rows ships identically
    via closure or SparkContext.broadcast (threshold 0), assignments
    bit-equal, and the release handle appears on the codes path too."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    codes = S.sq8_encode(e)
    closure = {r.vec_id: r.cell_id
               for r in S.ivf_assign(codes, codes_col="__q8").collect()}
    cents = codes.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), "__q8", "__amax")
    with query_scope():
        bcast = {r.vec_id: r.cell_id for r in S.assign_cells(
            codes, cents, 8, codes_col="__q8",
            broadcast_threshold_bytes=0).collect()}
    # same 8-centroid geometry via the default derivation? n=500 derives
    # C=8 (max(8, 500//250) clamp), so closure and bcast compare 1:1
    assert bcast == closure and len(bcast) == 500


def test_ivf_topk_codes_wire_matches_float_probe(spark, tmp_path, monkeypatch):
    """r12: ivf_topk(codes_col=) rides the sq8_encode wire end-to-end
    over a codes-on-disk corpus (parquet roundtrip - the actual use).
    At FULL probe (num_cells=1, every row in the probed cell) the
    top-k ids match the float probe's on testdata (SQ8 perturbs
    cosines ~1e-3, far under the ranking gaps here) and the cosines
    agree to quantization tolerance; the COMPUTE plan (captured at the
    pre-collect intermediate, r15 ADVICE - results collect locally, so
    the returned frame's plan is vacuous) never touches a float vector
    column. At partial probe the scanned cell is the query's
    int8-routed cell."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    plans, real = [], S._codes_query_topk

    def spy(*a, **kw):
        out = real(*a, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(S, "_codes_query_topk", spy)
    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    S.sq8_encode(e).write.parquet(str(tmp_path / "codes"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    flt = S.ivf_topk(e, query_vec_id=7, k=5, num_cells=1).collect()
    cdf = S.ivf_topk(codes, query_vec_id=7, k=5, num_cells=1, codes_col="__q8")
    cod = cdf.collect()
    assert [r.vec_id for r in cod] == [r.vec_id for r in flt]
    assert all(abs(a.cosine - b.cosine) < 5e-2 for a, b in zip(cod, flt))
    # float never exists anywhere in the executed compute plan
    assert len(plans) == 1 and "embedding" not in plans[0]
    # r14: the probe collects its k-row result and releases the persisted
    # corpus - the returned frame is a bounded local scan
    assert "Scan ExistingRDD" in cdf._jdf.queryExecution().executedPlan().toString()
    part = S.ivf_topk(codes, query_vec_id=7, k=5, num_cells=8,
                      codes_col="__q8").collect()
    qcell = {r.vec_id: r.cell_id for r in
             S.ivf_assign(e, 8, transport="int8").collect()}[7]
    assert len(part) == 5 and {r.cell_id for r in part} == {qcell}


def test_scope_releases_broadcast_through_wrappers(emb, broadcasts,
                                                   forced_broadcast):
    """r12 (ADVICE): the public entry points that wrap assign_cells -
    ivf_assign (max_cell split + drop path) and semantic_dedup - return
    derived frames, and their post-crossover broadcast must still have
    an unpersist path: the enclosing scope releases it."""
    from real_time_crypto_market_data_pipeline_spark.operators import dedup as D

    created, released = broadcasts
    with query_scope():
        capped = S.ivf_assign(emb, num_cells=8, max_cell=16)  # split + drop path
        kept = D.semantic_dedup(emb, num_cells=8, threshold=0.9)
        assert capped.count() == 64 and kept.count() > 0
        assert len(created) == 2 and released == []
    assert sorted(map(id, released)) == sorted(map(id, created))


def test_routing_tree_aliases_childless_twins():
    """r12 crash fix: a duplicated centroid row never captures children
    (routing always picks the FIRST twin on exact ties), but worker
    BLAS grams can drift a last ulp between identical columns at
    different panel positions and select the later twin anyway
    (observed at C=88k). The tree must therefore carry an ALIAS entry -
    the first twin's children - for every accepted childless twin, so
    either selection routes to the same candidate set (and the same
    final cell, matching the oracle's lowest-id rule)."""
    import numpy as np

    rng = np.random.default_rng(3)
    C = rng.normal(size=(40, 8))
    C[7] = C[2]            # duplicate mid: 7 routes to 2, stays childless
    C[33] = C[11]          # duplicate cell row (harmless at leaf level)
    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)
    g1 = S._cbrt_ceil(40)
    sizes = sorted({g1, min(40, g1 * g1), 40})
    kids = S._routing_tree(C, Cn, sizes)
    mid_level = len(sizes) - 2
    assert 7 in kids[mid_level]                      # the alias exists
    assert kids[mid_level][7] is kids[mid_level][2]  # ...and IS 2's list
    # a query equal to the twin routes fine even if level hops land on 7
    v = C[7:8].copy()
    cell = S._route(C, Cn, kids, sizes, v, Cn[7:8], len(sizes))
    assert cell[0] in (2, 7)


def test_routing_tree_symmetric_alias_first_twin_childless(monkeypatch):
    """r13 (ADVICE): the mirror image of the C=88k drift - BLAS ulp
    drift routes ALL children to the LATER twin, leaving the FIRST twin
    childless. The alias must be symmetric: the first twin gets the
    later twin's children instead of the build failing on routable
    geometry. Drift is simulated by redirecting mid-level routes from
    twin 2 to twin 7 (byte-identical rows, so any real selection between
    them is score-equal)."""
    import numpy as np

    rng = np.random.default_rng(3)
    C = rng.normal(size=(40, 8))
    C[7] = C[2]  # byte-identical mid-level twins
    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)
    g1 = S._cbrt_ceil(40)
    sizes = sorted({g1, min(40, g1 * g1), 40})
    real_route = S._route

    def drifted(C_, Cn_, kids_, sizes_, V, Vn, depth):
        cur = real_route(C_, Cn_, kids_, sizes_, V, Vn, depth)
        if depth == 2:  # mid-level child routing: drift 2's children to 7
            cur = np.where(cur == 2, 7, cur)
        return cur

    monkeypatch.setattr(S, "_route", drifted)
    kids = S._routing_tree(C, Cn, sizes)  # old code: ValueError here
    mid = len(sizes) - 2
    assert 2 in kids[mid] and kids[mid][2] is kids[mid][7]


def test_ivf_topk_codes_path_missing_query_id_returns_empty(spark):
    """r13 (ADVICE): an absent query id on the codes wire returns an
    EMPTY frame with the probe schema - matching the float path -
    instead of raising a bare TypeError off the None row."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes = S.sq8_encode(e)
    out = S.ivf_topk(codes, query_vec_id=10**9, k=3, num_cells=8,
                     codes_col="__q8")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "cell_id", "cosine"]


def test_ivf_kmeans_topk_codes_wire_matches_float_probe(spark, tmp_path):
    """r13: ivf_kmeans_topk(codes_col=) completes the codes wire across
    the TRAINED-index probe path - only the cap-bounded training sample
    dequantizes, centers re-quantize onto the wire, assignment and
    scoring stay codes-resident. At FULL probe the top-k ids match the
    float path on testdata (SQ8 perturbs cosines ~1e-3, far under the
    ranking gaps), cosines agree to quantization tolerance, and the
    plan never touches a float vector column; at partial probe the
    result is k rows from the probed cells. An absent query id returns
    empty like the float path."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    S.sq8_encode(e).write.parquet(str(tmp_path / "codes"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    flt = S.ivf_kmeans_topk(e, query_vec_id=7, k=5, num_cells=2,
                            n_probe=2).collect()
    cdf = S.ivf_kmeans_topk(codes, query_vec_id=7, k=5, num_cells=2,
                            n_probe=2, codes_col="__q8")
    cod = cdf.collect()
    assert [r.vec_id for r in cod] == [r.vec_id for r in flt]
    assert all(abs(a.cosine - b.cosine) < 5e-2 for a, b in zip(cod, flt))
    assert "embedding" not in codes.columns  # float never exists on the wire
    assert "Scan ExistingRDD" in cdf._jdf.queryExecution().executedPlan().toString()
    part = S.ivf_kmeans_topk(codes, query_vec_id=7, k=5, num_cells=8,
                             n_probe=2, codes_col="__q8").collect()
    assert len(part) == 5
    assert S.ivf_kmeans_topk(codes, query_vec_id=10**9, k=5, num_cells=8,
                             codes_col="__q8").count() == 0
    assert S.ivf_kmeans_topk(e, query_vec_id=10**9, k=5,
                             num_cells=8).count() == 0  # float path parity


def test_ivf_codes_probes_release_persisted_blocks(spark):
    """r14 (ADVICE): the codes-path probes persist the corpus
    assignment for exactly one call (query lookup + probe scan share
    the pass) and release it when the k-row result materializes -
    repeated probes in one session must not accumulate corpus-sized
    executor storage. Pinned via the context's persistent-RDD ids,
    including the absent-query-id early returns: after is a subset of
    before (a set, not a count, so the ContextCleaner dropping an
    earlier test's RDD mid-test cannot trip it)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes = S.sq8_encode(e).localCheckpoint()  # stable input, off the books
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        assert S.ivf_topk(codes, query_vec_id=7, k=3, num_cells=4,
                          codes_col="__q8").count() == 3
        assert S.ivf_kmeans_topk(codes, query_vec_id=7, k=3, num_cells=2,
                                 n_probe=2, codes_col="__q8").count() == 3
    S.ivf_topk(codes, query_vec_id=10**9, k=3, num_cells=4,
               codes_col="__q8").count()
    S.ivf_kmeans_topk(codes, query_vec_id=10**9, k=3, num_cells=2,
                      codes_col="__q8").count()
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_ivf_codes_probe_releases_its_broadcast(spark, broadcasts,
                                                forced_broadcast):
    """r14: past the broadcast crossover the codes probe's assignment
    ships as a SparkContext.broadcast that nothing outside the call can
    reach - the probe's own scope must unpersist it along with the
    persisted corpus blocks, or each probe call leaks one corpus-index
    broadcast for the session's lifetime."""
    created, released = broadcasts
    codes = S.sq8_encode(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    assert S.ivf_topk(codes, query_vec_id=7, k=3, num_cells=4,
                      codes_col="__q8").count() == 3
    assert len(created) == 1 and released == created


def test_kmeans_empty_training_sample_fails_loudly(spark):
    """ADVICE: an empty training sample raises a clear ValueError, not
    numpy's opaque ``high <= 0`` from the k-means++ init."""
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="k-means training sample is empty"):
        S.ivf_kmeans_index(empty, num_cells=2)


def test_ann_recall_kmeans_monotone(spark):
    """r15 verdict item 4: the kmeans-trained probe's recall@k is
    monotone nondecreasing in n_probe and EXACTLY 1.0 at n_probe ==
    num_cells (full probe == brute force for any trained model). The
    kmeans curve is pinned here because MLlib training is not
    SQL-expressible; the registry's q_ann_recall oracle-checks the
    deterministic-descent variant."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = S.cosine_topk(emb, query_vec_id=0, k=10)
    recalls = []
    for n_probe in (1, 2, 4, 8):
        approx = S.ivf_kmeans_topk(emb, query_vec_id=0, k=10,
                                   num_cells=8, n_probe=n_probe)
        recalls.append(S.ann_recall(exact, approx, 10).first()["recall"])
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0


def test_ann_recall_ivf_nprobe_monotone_and_full(emb):
    """Deterministic-IVF twin: n_probe widens the probed-cell set as a
    sorted prefix, so recall is monotone; probing all cells IS brute
    force (recall 1.0), for any quantizer."""
    exact = S.cosine_topk(emb, query_vec_id=5, k=10)
    recalls = []
    for n_probe in (1, 2, 4, 8):
        approx = S.ivf_topk(emb, query_vec_id=5, k=10, num_cells=8,
                            n_probe=n_probe)
        recalls.append(S.ann_recall(exact, approx, 10).first()["recall"])
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0
    assert all(0.0 <= r <= 1.0 for r in recalls)


def test_ivf_topk_nprobe_rejects_rings_and_codes(emb):
    """n_probe selects quantizer CELLS: combining it with the ring
    split (cell ids renumbered) or the codes wire raises up front."""
    with pytest.raises(ValueError, match="n_probe"):
        S.ivf_topk(emb, query_vec_id=5, k=3, num_cells=8, n_probe=2,
                   max_cell=80)
    codes = S.sq8_encode(emb)
    with pytest.raises(ValueError, match="n_probe"):
        S.ivf_topk(codes, query_vec_id=5, k=3, num_cells=8, n_probe=2,
                   codes_col="__q8")


def test_ivf_recall_sweep_matches_per_width_ivf_topk(emb):
    """r16 (verdict item 3): the single-assignment sweep returns, width
    for width, EXACTLY the recall the three-pass per-width form
    (ann_recall over an independent ivf_topk call) computes - plus the
    monotone/full-probe invariants - while running ivf_assign once."""
    out = {r.n_probe: r.recall for r in S.ivf_recall_sweep(
        emb, query_vec_id=5, k=10, num_cells=8, n_probes=(1, 2, 4, 8)).collect()}
    exact = S.cosine_topk(emb, query_vec_id=5, k=10)
    for n_probe in (1, 2, 4, 8):
        slow = S.ann_recall(exact, S.ivf_topk(
            emb, query_vec_id=5, k=10, num_cells=8, n_probe=n_probe),
            10).first()["recall"]
        assert out[n_probe] == slow, (n_probe, out)
    rs = [out[n] for n in (1, 2, 4, 8)]
    assert rs == sorted(rs) and rs[-1] == 1.0


def test_ivf_recall_sweep_releases_persisted_assignment(emb, monkeypatch):
    """The sweep's persisted assignment must release when the
    len(n_probes)-row result materializes (the codes-probe discipline):
    no corpus-sized blocks accumulate across repeated sweeps."""
    released = []
    orig = S.ivf_assign

    def tracking(*a, **kw):
        out = orig(*a, **kw)
        real = out.unpersist
        out.unpersist = lambda *ar, **kws: (released.append(True),
                                            real(*ar, **kws))[1]
        return out

    monkeypatch.setattr(S, "ivf_assign", tracking)
    assert S.ivf_recall_sweep(emb, query_vec_id=0, k=5, num_cells=8).count() == 3
    assert released == [True]


def test_assign_cells_routing_sizes_knob(emb):
    """r16 A/B knob: an explicit ladder equal to the default derivation
    routes identically; a coarser 2-level ladder still assigns every
    vector a valid cell id in [0, C)."""
    from pyspark.sql import functions as F

    C = 8
    cents = emb.where(F.col("vec_id") < C).select(
        F.col("vec_id").cast("long").alias("cell_id"),
        F.col("embedding").alias("cvec"))
    dflt = {(r.vec_id, r.cell_id) for r in
            S.assign_cells(emb, cents, C).collect()}
    g1 = S._cbrt_ceil(C)
    same = {(r.vec_id, r.cell_id) for r in S.assign_cells(
        emb, cents, C, routing_sizes=[g1, min(C, g1 * g1)]).collect()}
    assert same == dflt
    two = S.assign_cells(emb, cents, C, routing_sizes=[3]).collect()
    assert len(two) == emb.count()
    assert all(0 <= r.cell_id < C for r in two)
    import numpy as np

    npl = {(r.vec_id, r.cell_id) for r in S.assign_cells(  # r17 ADVICE: a
        emb, cents, C,  # numpy-computed ladder (np.int64) must validate
        routing_sizes=list(np.array([g1, min(C, g1 * g1)]))).collect()}
    assert npl == dflt
    for bad in ([], [0], [C + 1], [True], [2.0], [np.float64(2.0)]):
        with pytest.raises(ValueError, match="routing_sizes"):
            S.assign_cells(emb, cents, C, routing_sizes=bad)
