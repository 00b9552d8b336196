"""Vector similarity search operators (SURVEY 2.7 X3).

Brute-force cosine top-k as the exact baseline, an IVF-style two-stage
search as the scale path. Dot products use ``zip_with`` + ``aggregate``
folds (deterministic summation order = bit-for-bit DuckDB oracle match).

Scale notes (100 TB): brute force broadcasts the query vectors (scan
never shuffles, top-k is TakeOrderedAndProject); IVF assignment is the
three-level quantizer (``assign_cells``, ~3n*cbrt(C) cosines, zero
corpus shuffle, int8 wire + broadcast index past 128 MB) with cell_id
as the disk partition key, so probes partition-prune; past a few
hundred dims score via Arrow/numpy matmul (``cosine_topk_arrow``).
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin, query_scope


def check_cap(max_cell):
    """ValueError on bool / non-integral / non-positive ``max_cell`` (the
    bin_width lesson: bool IS an int; 0 becomes a kernel ZeroDivisionError)."""
    if max_cell is not None and (isinstance(max_cell, bool)
            or not isinstance(max_cell, numbers.Integral) or max_cell < 1):
        raise ValueError(f"max_cell must be a positive integer, got {max_cell!r}")
    return None if max_cell is None else int(max_cell)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<numeric> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _query_row(embeddings: DataFrame, query_vec_id: int, id_col: str, vec_col: str):
    """One-row (_qvec, _qn) query side: query norm computed once."""
    return embeddings.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), l2_norm(F.col(vec_col)).alias("_qn"))


def _broadcast_query_topk(
    corpus: DataFrame, q: DataFrame, k: int, id_col: str, vec_col: str,
    extra=(), pred=None,
) -> DataFrame:
    """Score ``corpus`` against a broadcast one-row query (``_qvec``,
    ``_qn``), keep the exact top-k: BroadcastNestedLoopJoin (scan
    stays shuffle-free) + TakeOrderedAndProject (no global sort);
    query norm precomputed (interpreted folds, ~1/3 of the cost)."""
    cos = dot(F.col(vec_col), F.col("_qvec")) / (
        l2_norm(F.col(vec_col)) * F.col("_qn"))
    out = corpus.crossJoin(F.broadcast(q))
    if pred is not None:
        out = out.where(pred)
    return (out.select(F.col(id_col), *extra, cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """X3 baseline: exact brute-force cosine top-k for one stored query."""
    q = _query_row(embeddings, query_vec_id, id_col, vec_col)
    return _broadcast_query_topk(embeddings, q, k, id_col, vec_col)


def _cbrt_ceil(c: int) -> int:
    """Exact ceil(cbrt(c)): float pow misrounds perfect cubes, correct by +-1."""
    g = max(1, round(c ** (1 / 3)))
    while g * g * g < c:
        g += 1
    while g > 1 and (g - 1) ** 3 >= c:
        g -= 1
    return g


def _route(C, Cn, kids, sizes, V, Vn, depth):
    """Descend ``depth`` routing levels: argmax cosine per hop (first-max
    IS the oracle's lowest-id tie rule); module-level so the index pickles
    for the broadcast path."""
    import numpy as np

    S = (V @ C[: sizes[0]].T) / np.outer(Vn, Cn[: sizes[0]])
    cur = S.argmax(axis=1)
    for j in range(1, depth):
        nxt = np.empty(len(V), dtype=np.int64)
        for p in np.unique(cur):
            m, sel = cur == p, kids[j - 1][p]
            S = (V[m] @ C[sel].T) / np.outer(Vn[m], Cn[sel])
            nxt[m] = sel[S.argmax(axis=1)]
        cur = nxt
    return cur


def _routing_tree(C, Cn, sizes):
    """Per-level children maps for the hierarchical descent: kids[j][p]
    = members of level j+1 whose level-j route lands on parent p."""
    import numpy as np

    kids: list[dict] = []
    for j, size in enumerate(sizes[1:]):
        parents = _route(C, Cn, kids, sizes, C[:size], Cn[:size], j + 1)
        kids.append({p: np.where(parents == p)[0] for p in np.unique(parents)})
        # A childless parent is harmless iff a bit-identical twin
        # captured children - but it still needs an entry: BLAS grams
        # are not bit-equal for identical columns at different panel
        # positions (last-ulp drift selected a childless twin at C=88k,
        # r12), so ALIAS it to a PARENTED twin's children - same
        # candidate set, same final cell, oracle-consistent. Symmetric
        # (r13): drift can leave the FIRST twin childless too. Anything
        # else is unroutable geometry - fail at build. Twin lookup
        # hashes row bytes once (O(C*d)); +0.0 collapses -0.0/+0.0;
        # byte-identical NaN rows count as twins (degenerate anyway).
        parented = {(C[p] + 0.0).tobytes(): p
                    for p in range(sizes[j]) if p in kids[-1]}
        bad = []
        for p in range(sizes[j]):
            if p not in kids[-1]:
                t = parented.get((C[p] + 0.0).tobytes())
                if t is not None:
                    kids[-1][p] = kids[-1][t]
                else:
                    bad.append(p)
        if bad:
            raise ValueError(f"degenerate centroid geometry: level-{j} "
                             f"{bad[:5]} captured no children")
    return kids


def sq8_wire(vec_col: str):
    """(codes tinyint[], amax) JVM columns - the SQ8 layout as pure-SQL
    expressions (``scalar_quantize_int8``'s kernel). NOT the transport
    hot path: array HOFs evaluate interpreted per element, measured 17x
    the numpy quantizer at 2M vectors (SCALING.md r10), so
    ``assign_cells(transport='int8')`` quantizes worker-side instead."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.when(amax > 0, F.transform(
        v, lambda x: F.floor(x * 127.0 / amax + 0.5).cast("tinyint"))
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return codes, amax


def _sq8_roundtrip_np(C):
    """Driver-side quantize->dequantize, bit-exact with ``sq8_wire`` +
    ``_q8_mat``: the wire values the pairwise/scoring legs see (routing
    itself rides the raw codes since r15)."""
    import numpy as np

    amax = np.abs(C).max(axis=1, keepdims=True)
    a = np.where(amax > 0, amax, 1.0)  # zero rows quantize to zero codes
    return np.floor(C * 127.0 / a + 0.5) * a / 127.0


def _q8_mat(pdf):
    """Dequantize a wire batch (one 64-byte blob per row - BINARY pays
    no per-element Arrow offsets): op-for-op the oracle's left-assoc
    ``c * amax / 127.0``."""
    return _q8_raw(pdf) * pdf["__amax"].to_numpy()[:, None] / 127.0


def _q8_raw(pdf):
    """RAW codes of a wire batch as float64 (no dequant scaling) - the
    routing matrix (r15): dequant is a per-row POSITIVE scaling, so
    every routing cosine is scale-invariant and the argmax unchanged in
    exact math; integer dots (|c| <= 127, d = 64) are EXACT in float64,
    so BLAS-vs-fold summation order can never flip a near-tie - raw
    routing is strictly MORE oracle-stable than the dequantized form,
    and it drops the full-matrix ``* amax / 127.0`` passes the 20M
    assign-leg floor measured as ~compute (SCALING.md r14)."""
    import numpy as np

    return np.frombuffer(b"".join(pdf["__q8"]), dtype=np.int8).reshape(
        len(pdf), -1).astype(np.float64)


def _sq8_quant_np(V):
    """(codes int8 2-d, amax 1-d) per row - THE wire quantizer (zero
    rows -> zero codes, amax stored 0), shared by ``sq8_encode`` and
    the in-worker transport."""
    import numpy as np

    amax = np.abs(V).max(axis=1)
    a = np.where(amax > 0, amax, 1.0)  # zero rows quantize to zero codes
    return np.floor(V * 127.0 / a[:, None] + 0.5).astype(np.int8), amax


def sq8_encode(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the SQ8 wire AT INGEST: (id, __q8 BINARY, __amax).
    The codes-on-disk producer (SCALING.md r10 named the float input
    leg as SemDeDup's last big cost): write ONCE to parquet, feed back
    via ``codes_col="__q8"`` - the float column is never read again
    and the in-worker quantize disappears. Bit-identical to
    ``transport="int8"`` (same ``_sq8_quant_np``); ONE narrow
    mapInPandas, no shuffle - at 100 TB this maps over the ingest scan.
    """
    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            V = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            q8, amax = _sq8_quant_np(V)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "__q8": [c.tobytes() for c in q8], "__amax": amax})

    id_ddl = embeddings.schema[id_col].dataType.simpleString()  # not LONG-only
    return embeddings.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} {id_ddl}, __q8 BINARY, __amax DOUBLE")


def assign_cells(
    embeddings: DataFrame, cents: DataFrame, num_cells: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    keep_vec: bool = False, transport: str = "float",
    broadcast_threshold_bytes: int = 128 << 20,
    codes_col: str | None = None, amax_col: str = "__amax",
    routing_sizes=None,
) -> DataFrame:
    """Three-level coarse-quantized nearest-centroid assignment,
    scored by Arrow-batched BLAS.

    ``cents``: small (cell_id, cvec) relation, cell_ids 0..C-1, whose
    lowest ids double as FAISS-style routing levels of size g1 =
    ceil(cbrt C) and g2 = min(C, g1^2): each vector descends top ->
    winner's mids -> winner's cells (~3n*cbrt(C) cosines, not the n x C
    wall SCALING.md measured), ties -> lowest cell_id at every hop; one
    BLAS matmul per Arrow batch per hop (the r8-retired fold twin:
    tests/_reference_impls).

    Plan shape: ONE narrow ``mapInPandas`` corpus pass - no shuffle, no
    join; the index-scale centroid relation (C = n/250 rows) collects
    once driver-side and ships in the task closure, or past
    ``broadcast_threshold_bytes`` (128 MB, SCALING.md's C~2.5e5
    closure-reserialization crossover) as ONE torrent-shipped
    ``SparkContext.broadcast`` per executor, pinned into the caller's
    ``query_scope`` (released when that scope closes).

    ``transport="int8"``: vectors SQ8-quantize IN THE WORKER (numpy;
    the JVM-HOF ``sq8_wire`` form measured 17x slower at 2M, SCALING.md
    r10), the descent routes on the RAW int8 codes (r15, ``_q8_raw``:
    scale-invariant per side, integer dots exact in float64; the
    oracle's ``qcodes`` routing replays it bit-for-bit - a self-
    consistency win, perf-neutral on the gram-bound leg, SCALING.md
    r15), and ``keep_vec`` emits ``__q8``/``__amax`` - every later leg
    carries ~4x fewer bytes. ``codes_col`` (r11): the input ALREADY
    carries that wire (``sq8_encode`` output) - float never read,
    worker quantize skipped, ``cents`` carries the same two columns,
    nothing re-quantizes: bit-identical to ``transport="int8"``.
    """
    import numpy as np
    import pandas as pd

    if transport not in ("float", "int8"):
        raise ValueError(f"transport must be 'float' or 'int8', got {transport!r}")
    wire = transport == "int8" or codes_col is not None
    ccols = ("cell_id", "cvec") if codes_col is None else ("cell_id", codes_col, amax_col)
    rows = cents.select(*ccols).orderBy("cell_id").collect()
    ids = np.array([r.cell_id for r in rows], dtype=np.int64)
    # routing levels are ID PREFIXES selected by value in the oracle:
    # sparse/offset cell_ids must fail fast, not silently diverge
    if len(ids) != num_cells or not (ids == np.arange(num_cells)).all():
        raise ValueError("cents.cell_id must be exactly 0..num_cells-1")
    if codes_col is None:
        C = np.stack([np.asarray(r.cvec, dtype=np.float64) for r in rows])
        if wire:  # route on the RAW codes the wire carries (r15, _q8_raw)
            C = _sq8_quant_np(C)[0].astype(np.float64)
    else:  # raw codes ARE the routing matrix - no dequant scaling
        C = np.stack([np.frombuffer(r[1], dtype=np.int8).astype(np.float64)
                      for r in rows])
    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)  # zero-norm -> cos 0
    g1 = _cbrt_ceil(num_cells)
    # routing_sizes (r16, A/B knob): override the level-size ladder (always
    # topped by C; levels are id prefixes; default = the oracle's cbrt descent)
    if routing_sizes is not None and (not routing_sizes or not all(
            isinstance(s, (int, np.integer)) and not isinstance(s, bool)
            and 0 < s <= num_cells for s in routing_sizes)):
        # non-empty + integral-not-bool (r17 ADVICE, widened r18): floats/
        # bools break numpy slicing / silently misroute, but np.int64 - a
        # numpy-computed ladder's natural dtype - slices fine and must pass
        raise ValueError(f"routing_sizes must be non-empty ints in (0, {num_cells}]")
    sizes = (sorted({*routing_sizes, num_cells}) if routing_sizes is not None
             else sorted({g1, min(num_cells, g1 * g1), num_cells}))
    depth = len(sizes)
    payload, bv = (ids, C, Cn, _routing_tree(C, Cn, sizes)), None
    if C.nbytes > broadcast_threshold_bytes:
        bv = pin(payload, "broadcast")
        payload = None  # closure must NOT also capture the index

    def assign(batches):
        ids_, C_, Cn_, kids_ = bv.value if bv is not None else payload
        for pdf in batches:
            if codes_col is not None:
                V = _q8_raw(pdf)
            else:
                V = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
                if transport == "int8":  # quantize here; route on the raw codes
                    q8, amax = _sq8_quant_np(V)
                    V = q8.astype(np.float64)
            Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
            cell = ids_[_route(C_, Cn_, kids_, sizes, V, Vn, depth)]
            out = pd.DataFrame({id_col: pdf[id_col], "cell_id": cell.astype("int32")})
            if keep_vec:
                if codes_col is not None:
                    out["__q8"], out["__amax"] = pdf["__q8"], pdf["__amax"]
                elif transport == "int8":
                    out["__q8"], out["__amax"] = [c.tobytes() for c in q8], amax
                else:
                    out[vec_col] = pdf[vec_col]
            yield out

    keep_ddl = "" if not keep_vec else (
        ", __q8 BINARY, __amax DOUBLE" if wire else
        f", {vec_col} {embeddings.schema[vec_col].dataType.simpleString()}")
    src = embeddings.select(id_col, vec_col) if codes_col is None else (
        embeddings.select(id_col, F.col(codes_col).alias("__q8"),
                          F.col(amax_col).alias("__amax")))
    return src.mapInPandas(assign, schema=f"{id_col} LONG, cell_id INT" + keep_ddl)


def ring_tiles(ids, V, Vn, k: int):
    """Tile one id-sorted cell group into ``k`` cosine rings: rank by cosine
    to the MIN-ID member (row 0 - the centroid's own row in the deterministic
    path, well-defined under trained centroids too), ties -> lower id, then
    NTILE-style exact integer tiling matching the oracle's SQL CASE. Shared by
    split + fused-dedup paths. Boundary-tie caveat (the ~1e-15 threshold
    caveat's rank twin): BLAS vs fold cosines a last ulp apart STRADDLING a
    quantile boundary can swap rings cross-engine; never observed on testdata
    - a corpus hitting it should quantize cosines identically before ranking."""
    import numpy as np

    cos = (V @ V[0]) / (Vn * Vn[0])
    rank = np.empty(len(ids), np.int64)
    rank[np.lexsort((ids, -cos))] = np.arange(len(ids))
    q, rm = len(ids) // k, len(ids) % k
    return np.where(rank < rm * (q + 1), rank // (q + 1),
                    rm + (rank - rm * (q + 1)) // max(q, 1))


def split_hot_cells(
    assigned: DataFrame, num_cells: int, max_cell: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Quantile ring split: cap cell sizes after quantizer assignment.

    Each cell over ``max_cell`` is cut into k = ceil(size/max_cell)
    RINGS (``ring_tiles``): cap guaranteed in ONE pass, near-dup pairs
    co-ringed unless they straddle a boundary; new cell_id =
    ``num_cells`` + cumulative-block(cell) + ring, collision-free;
    cold cells untouched (nearest-of-k splitting re-concentrates:
    SCALING.md r9). One small count agg finds hot cells; ranking +
    tiling is ``applyInPandas`` over hot-cell groups only - ONE shuffle
    of the hot mass; the ``_split_cte`` oracle replays it exactly.
    """
    import numpy as np
    import pandas as pd

    max_cell = check_cap(max_cell)
    vec_ddl = assigned.schema[vec_col].dataType.simpleString()
    # reliable with checkpoint_dir (survives executor loss), else
    # executor-pinned blocks (the connected_components policy knob)
    e = pin(assigned, "checkpoint", checkpoint_dir=checkpoint_dir)
    sizes = e.groupBy("cell_id").count().where(F.col("count") > max_cell).collect()
    if not sizes:
        return e
    start, plan = num_cells, {}
    for c, cnt in sorted((r[0], r[1]) for r in sizes):
        plan[c] = (start, cnt, -(-cnt // max_cell))  # ceil(cnt/max_cell) rings
        start += plan[c][2]

    def ring(pdf):
        pdf = pdf.sort_values(id_col, ignore_index=True)
        blk, cnt, k = plan[int(pdf["cell_id"].iloc[0])]
        V = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, np.float64)))
        Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
        tile = ring_tiles(pdf[id_col].to_numpy(), V, Vn, k)
        return pd.DataFrame({id_col: pdf[id_col],
                             "cell_id": (blk + tile).astype("int32"),
                             vec_col: pdf[vec_col]})

    hot_df = F.broadcast(e.sparkSession.createDataFrame([(int(c),) for c in plan], "cell_id INT"))
    return (
        e.join(hot_df, "cell_id", "left_anti").select(id_col, "cell_id", vec_col)
        .unionByName(
            e.join(hot_df, "cell_id", "left_semi").groupBy("cell_id")
            .applyInPandas(ring, f"{id_col} LONG, cell_id INT, {vec_col} {vec_ddl}")))


def ivf_assign(
    embeddings: DataFrame, num_cells: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding", keep_vec: bool = False,
    corpus_count: int | None = None, max_cell: int | None = None,
    transport: str = "float", checkpoint_dir: str | None = None,
    codes_col: str | None = None, amax_col: str = "__amax",
) -> DataFrame:
    """IVF stage 1: assign every vector to its nearest centroid cell.

    Deterministic 'training': centroids are the ``num_cells`` smallest-id
    vectors (reproducible; real pipelines run ``ivf_kmeans_index``).
    ``num_cells=None`` derives C as max(8, n // 250) - cells stay ~250 rows at
    any scale vs the 32x-for-10x fixed-C wall (SCALING.md); n comes from
    ``corpus_count`` when given, else ONE eager ``count()`` runs here.
    ``max_cell`` ring-splits oversized cells (``split_hot_cells``).
    ``codes_col``: the input is ``sq8_encode`` output (codes on disk)
    - centroids are the smallest-id CODE rows, no float column exists.
    """
    max_cell = check_cap(max_cell)
    if max_cell is not None and (transport != "float" or codes_col is not None):
        raise ValueError("max_cell ring split carries float vectors; use transport='float'")
    if num_cells is None:
        n = corpus_count or embeddings.count()
        # clamped to available centroid rows (ids dense-from-0): a tiny
        # corpus trains on all n vectors instead of failing the strict check
        num_cells = max(1, min(max(8, n // 250), n))
    payload = (F.col(vec_col).alias("cvec"),) if codes_col is None else (
        F.col(codes_col), F.col(amax_col))
    cents = embeddings.where(F.col(id_col) < num_cells).select(
        F.col(id_col).cast("long").alias("cell_id"), *payload)
    out = assign_cells(embeddings, cents, num_cells, id_col, vec_col,
                       keep_vec or max_cell is not None, transport,
                       codes_col=codes_col, amax_col=amax_col)
    if max_cell is not None:  # r9: cap cell sizes (needs vectors to re-route)
        split = split_hot_cells(out, num_cells, max_cell, id_col, vec_col, checkpoint_dir)
        return split if keep_vec else split.drop(vec_col)
    return out


def ivf_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 5, num_cells: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_cell: int | None = None, checkpoint_dir: str | None = None,
    codes_col: str | None = None, amax_col: str = "__amax",
    n_probe: int | None = None,
) -> DataFrame:
    """X3 scale path: IVF search - probe only the query's cell.

    At scale the assignment table partitions on cell_id (bucketed % k past
    ~1e3 cells - the dir-per-cell listing wall, SCALING.md r12): the probe
    prunes to ~1/C of the corpus + a local top-k; ``keep_vec`` keeps the
    corpus at ONE scan. With ``max_cell`` the probed unit is the query's RING
    (the cap bounds what a probe reads, at the usual recall trade;
    ``checkpoint_dir`` makes the split's checkpoint reliable). ``codes_col``
    (r12): the input is ``sq8_encode`` output and the probe rides the codes
    wire end-to-end - routing on raw codes, scoring on the dequantized
    values (one Arrow-batched matmul; the float column never exists), so a
    codes-resident corpus (the 100 TB layout) needs no float copy. NOTE the
    codes path executes EAGERLY in its own ``query_scope``: the k-row
    result returns as a local frame and errors surface at call time,
    unlike the lazy float path. ``n_probe`` (r15) widens the float-path probe to
    the n most-query-similar CENTROIDS' cells (ties -> lowest cell_id,
    the flat ``ivf_kmeans_probe_cells`` rule) instead of the query's
    own assigned cell - the knob ``ann_recall`` measures.
    """
    if n_probe is not None and (codes_col is not None or max_cell is not None):
        raise ValueError("n_probe probes quantizer CELLS: float path, no ring split")
    if codes_col is not None:
        # persist the assignment ONCE (lookup + probe scan would each run the
        # assign pass); the scope frees it on return, never accumulating (r14)
        with query_scope():
            return _codes_probe(pin(ivf_assign(
                embeddings, num_cells, id_col, vec_col, keep_vec=True,
                max_cell=max_cell, checkpoint_dir=checkpoint_dir,
                codes_col=codes_col, amax_col=amax_col)), query_vec_id, k, id_col,
                lambda r, q: F.col("cell_id") == r["cell_id"])
    e = ivf_assign(embeddings, num_cells, id_col, vec_col, keep_vec=True,
                   max_cell=max_cell, checkpoint_dir=checkpoint_dir)
    qrow = e.where(F.col(id_col) == query_vec_id).select(
        F.col("cell_id").alias("_qcell"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    pred = F.col("cell_id") == F.col("_qcell")
    if n_probe is not None:
        # rank centroids by the SAME JVM cosine fold the oracle replays
        # (numpy's pairwise dot is not bit-stable against it); ties ->
        # lowest id; n_probe rows, bounded driver collect
        ranked = _broadcast_query_topk(
            embeddings.where(F.col(id_col) < num_cells),
            _query_row(embeddings, query_vec_id, id_col, vec_col),
            n_probe, id_col, vec_col).collect()
        pred = F.col("cell_id").isin([int(r[id_col]) for r in ranked])
    return _broadcast_query_topk(
        e, qrow, k, id_col, vec_col,
        extra=(F.col("cell_id").cast("int").alias("cell_id"),),
        pred=pred,
    )


def ann_recall(exact_topk: DataFrame, approx_topk: DataFrame, k: int,
               id_col: str = "vec_id") -> DataFrame:
    """X3 (measurement): recall@k of an ANN result against exact ground
    truth - |approx ids intersect exact ids| / k, as a one-row frame.
    Both inputs are k-row top-k frames, so the semi-join broadcasts k
    rows. Recall is provably nondecreasing in the probed-cell set
    (every exact-top-k member in the candidate set outranks every
    non-member under the shared cosine+id order) - the pytest pin."""
    return exact_topk.select(id_col).join(
        F.broadcast(approx_topk.select(id_col)), id_col, "left_semi").agg(
        (F.count(F.lit(1)).cast("double") / F.lit(float(k))).alias("recall"))


def ivf_recall_sweep(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, num_cells: int = 8,
    n_probes=(1, 2, 4), id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """X3 (measurement, r16): recall@k at each probe width over ONE
    persisted assignment - the production sweep shape ``ivf_topk``'s
    docstring prescribes. Three per-width ``ivf_topk`` calls would each
    re-run the full three-level assign pass (the r15 EXPLAIN finding);
    here ``ivf_assign`` runs once, the exact ground truth scans the SAME
    persisted table, the centroid ranking collects once at the widest
    width (ties -> lowest id, the flat probe rule), and each width only
    varies the probe filter over its ranking prefix. The result is
    len(n_probes) rows, collected in the call's own ``query_scope`` so
    the persisted corpus blocks release on return (the codes-probe
    discipline)."""
    with query_scope():
        out = _recall_sweep(embeddings, query_vec_id, k, num_cells, n_probes,
                            id_col, vec_col)
        return out.sparkSession.createDataFrame(out.collect(), out.schema)


def _recall_sweep(embeddings, query_vec_id, k, num_cells, n_probes,
                  id_col="vec_id", vec_col="embedding") -> DataFrame:
    """``ivf_recall_sweep``'s lazy plan (assignment pinned in the caller's scope)."""
    e = pin(ivf_assign(embeddings, num_cells, id_col, vec_col, keep_vec=True))
    q = _query_row(embeddings, query_vec_id, id_col, vec_col)
    exact = _broadcast_query_topk(e, q, k, id_col, vec_col)
    ranked = _broadcast_query_topk(
        embeddings.where(F.col(id_col) < num_cells), q, max(n_probes),
        id_col, vec_col).collect()
    cells = [int(r[id_col]) for r in ranked]
    out = None
    for n_probe in n_probes:
        leg = ann_recall(exact, _broadcast_query_topk(
            e, q, k, id_col, vec_col,
            pred=F.col("cell_id").isin(cells[:n_probe])), k, id_col).select(
            F.lit(int(n_probe)).cast("int").alias("n_probe"), "recall")
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("n_probe")


def _deq_row(r):
    """Dequantize one collected codes row to the float64 wire values."""
    import numpy as np

    return np.frombuffer(r["__q8"], np.int8).astype(
        np.float64) * r["__amax"] / 127.0


def _codes_probe(assigned, query_vec_id, k: int, id_col: str, cells) -> DataFrame:
    """Codes-wire probe over a pinned assignment: score the rows ``cells(r, q)``
    selects for query row ``r`` (dequantized: ``q``); return the k rows as a
    LOCAL frame, so the caller's ``query_scope`` can release on return."""
    r = assigned.where(F.col(id_col) == query_vec_id).first()
    if r is None:  # absent query id: empty result, like the float path
        return assigned.sparkSession.createDataFrame(
            [], f"{id_col} long, cell_id int, cosine double")
    q = _deq_row(r)
    out = _codes_query_topk(assigned.where(cells(r, q)), q, k, id_col)
    return out.sparkSession.createDataFrame(out.collect(), out.schema)


def _codes_query_topk(e, q, k: int, id_col: str) -> DataFrame:
    """Codes-wire mirror of ``_broadcast_query_topk``: Arrow-batched BLAS
    scoring of a pre-pruned assignment against a driver-side dequantized
    query; exact top-k via TakeOrderedAndProject."""
    import numpy as np
    import pandas as pd

    qn = max(np.linalg.norm(q), 1e-12)

    def score(batches):
        for pdf in batches:
            V = _q8_mat(pdf)
            Vn = np.maximum(np.linalg.norm(V, axis=1), 1e-12)
            yield pd.DataFrame({id_col: pdf[id_col], "cell_id": pdf["cell_id"],
                                "cosine": (V @ q) / (Vn * qn)})

    return (e.mapInPandas(score, f"{id_col} LONG, cell_id INT, cosine DOUBLE")
            .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


class _LocalKMeansModel:
    """Centers-only stand-in for MLlib's KMeansModel (its one consumed
    surface: ``clusterCenters()``; assignment rides ``assign_cells``)."""

    def __init__(self, centers):
        self._centers = centers

    def clusterCenters(self):  # noqa: N802 - MLlib's casing, kept for parity
        return self._centers


def _lloyd_kmeans(X, k: int, seed: int, max_iter: int = 20):
    """Driver-side deterministic k-means++ init + Lloyd over the
    cap-bounded sample (r21, guide §1.2): MLlib's fit paid ~25 scheduler
    jobs to distribute O(cap*k*dim) flops numpy does in ms; the
    stable-hash sample (<= 51 MB) bounds the collect at ANY corpus
    size. Empty clusters keep their center; any fixed codebook
    satisfies the full-probe = brute-force invariant. An empty sample
    raises ValueError."""
    import numpy as np

    n = X.shape[0]
    if n == 0:
        raise ValueError("k-means training sample is empty")
    rng = np.random.default_rng(seed)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[int(rng.integers(n))]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = float(d2.sum())
        p = d2 / tot if tot > 0 else None  # renormalized: choice wants sum 1
        idx = int(rng.choice(n, p=p / p.sum())) if tot > 0 else int(rng.integers(n))
        centers[i] = X[idx]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        dist = (-2.0 * (X @ centers.T)) + (centers * centers).sum(axis=1)[None, :]
        assign = dist.argmin(axis=1)  # ||x||^2 is constant per row: drop it
        new = centers.copy()
        for i in range(k):
            m = assign == i
            if m.any():
                new[i] = X[m].mean(axis=0)
        if np.array_equal(new, centers):
            break
        centers = new
    return _LocalKMeansModel(list(centers))


def ivf_kmeans_index(
    embeddings: DataFrame, num_cells: int = 8, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    training_cap: int = 100_000,
    codes_col: str | None = None, amax_col: str = "__amax",
):
    """IVF-k-means index build: train centroids, assign every vector.

    Training input: the ``training_cap`` rows with smallest ``xxhash64(id)`` -
    a deterministic pseudo-random sample compiling to TakeOrderedAndProject,
    reproducible across partition layouts (a bare ``limit`` is not); zero
    norms guarded by greatest(norm, eps). Training runs driver-side on the
    collected sample (``_lloyd_kmeans``, r21). Assignment does NOT use a
    model transform (an n x C euclidean pass): the
    trained centroids feed ``assign_cells``. Returns ``(model, assigned)``;
    ``assigned`` partitions on cell_id at scale (bucketed past ~1e3).
    ``codes_col`` (r13): the input is ``sq8_encode`` output - only the
    cap-bounded training sample dequantizes (one narrow mapInPandas), the
    trained centers re-quantize driver-side onto the same wire, and
    assignment + downstream stay codes-resident: the corpus-wide float
    column never exists.
    """
    import numpy as np
    import pandas as pd

    samp = embeddings.orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)).limit(training_cap)
    if codes_col is None:
        norm = F.greatest(l2_norm(F.col(vec_col)), F.lit(1e-12))
        unit = samp.select(F.transform(
            F.col(vec_col), lambda x: x.cast("double") / norm).alias("__unit"))
    else:
        def deq(batches):  # dequantize + unit-normalize the SAMPLE only
            for pdf in batches:
                V = _q8_mat(pdf)
                V /= np.maximum(np.linalg.norm(V, axis=1), 1e-12)[:, None]
                yield pd.DataFrame({"__unit": list(V)})

        unit = samp.select(F.col(codes_col).alias("__q8"), F.col(amax_col)
                           .alias("__amax")).mapInPandas(deq, "__unit array<double>")
    X = np.asarray([r[0] for r in unit.select("__unit").collect()],
                   dtype=np.float64)
    model = _lloyd_kmeans(X, num_cells, seed)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    if codes_col is None:
        cents = embeddings.sparkSession.createDataFrame(
            list(enumerate(centers)), "cell_id long, cvec array<double>")
    else:  # centers ride the same wire the corpus is stored on
        q8, amax = _sq8_quant_np(np.asarray(centers, dtype=np.float64))
        cents = embeddings.sparkSession.createDataFrame(
            [(i, q8[i].tobytes(), float(amax[i])) for i in range(num_cells)],
            "cell_id long, __q8 binary, __amax double")
    return model, assign_cells(embeddings, cents, num_cells, id_col, vec_col,
                               keep_vec=True, codes_col=codes_col,
                               amax_col=amax_col)


def ivf_kmeans_probe_cells(model, query_vec, n_probe: int) -> list[int]:
    """Pick the ``n_probe`` cells whose centroids are most
    cosine-similar to the query vector (ties -> lowest cell id).
    Driver-side over C centroids - kilobytes. Zero-norm query/centroid
    vectors are guarded with ``or 1.0`` (cosine degrades to 0)."""
    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / (np.linalg.norm(qv) or 1.0)
    centers = model.clusterCenters()
    sims = [float(qv @ (c / (np.linalg.norm(c) or 1.0))) for c in centers]
    return sorted(range(len(centers)), key=lambda i: (-sims[i], i))[:n_probe]


def ivf_kmeans_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10,
    num_cells: int = 8, n_probe: int = 2, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    training_cap: int = 100_000,
    codes_col: str | None = None, amax_col: str = "__amax",
) -> DataFrame:
    """X3: IVF with a REAL k-means training pass, n-cell probing.

    Vectors unit-normalize (euclidean k-means then clusters by cosine
    geometry), k-means (driver-side Lloyd's over the cap-bounded
    sample, r21) learns ``num_cells`` centroids, the search
    scans only the ``n_probe`` most-cosine-similar cells; at ``n_probe
    == num_cells`` the result is EXACTLY brute force for ANY trained
    model - the driver-oracle invariant (pytest pins partial-probe
    recall). At 100 TB the assignment table is written partitioned by
    cell_id, so a probe scans n_probe/C of the corpus. Centroids +
    query vector are driver-side by design - kilobytes; zero norms
    guarded on every normalization (cosine 0, not NaN). ``codes_col``
    (r13): the trained-index probe rides the codes wire end-to-end
    (see ``ivf_kmeans_index``); scoring dequantizes per Arrow batch,
    and the path executes EAGERLY in its own ``query_scope`` - a local
    k-row frame, errors at call time, unlike the lazy float path.
    """
    if codes_col is not None:
        with query_scope():  # query + probe: ONE pass, released on return
            model, assigned = ivf_kmeans_index(
                embeddings, num_cells, seed, id_col, vec_col, training_cap,
                codes_col=codes_col, amax_col=amax_col)
            return _codes_probe(
                pin(assigned), query_vec_id, k, id_col, lambda r, q: F.col("cell_id").isin(
                    ivf_kmeans_probe_cells(model, q, n_probe))).select(id_col, "cosine")
    model, assigned = ivf_kmeans_index(
        embeddings, num_cells, seed, id_col, vec_col, training_cap)
    r = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).first()
    if r is None:  # absent query id: empty, like the codes path (r13)
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} long, cosine double")
    probe = ivf_kmeans_probe_cells(model, r[0], n_probe)
    q = _query_row(embeddings, query_vec_id, id_col, vec_col)
    return _broadcast_query_topk(
        assigned.where(F.col("cell_id").isin(probe)), q, k, id_col, vec_col
    )


def cosine_topk_arrow(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """X3 high-dim path: brute-force cosine via Arrow-batched numpy.
    Above a few hundred dims the expression fold loses to one BLAS
    matmul per Arrow batch; the TakeOrdered top-k plan shape is
    unchanged and the query vector travels in the closure."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    def score(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ q) / (norms * qn)
            yield pd.DataFrame({id_col: pdf[id_col], "cosine": sims})

    return (
        embeddings.select(id_col, vec_col)
        .mapInPandas(score, schema=f"{id_col} LONG, cosine DOUBLE")
        .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


def hyperplane_lsh_buckets(
    embeddings: DataFrame, num_bits: int = 16, dims: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """X3 alternative scale path: random-hyperplane LSH for vectors. bucket =
    sign-bit signature against ``num_bits`` deterministic pseudo-random
    hyperplanes (md5(bit, dim) coefficients - no RNG state to ship);
    cosine-similar vectors share buckets. Pure projection, no shuffle, no
    training; at scale the bucket is the storage partition key."""
    import hashlib

    # driver-side hyperplanes in [-1, 1), shipped as literal arrays
    def coeff(bit: int, dim: int) -> float:
        h = hashlib.md5(f"{bit}:{dim}".encode()).hexdigest()
        return int(h[:8], 16) / 2**31 - 1.0

    planes = [F.array(*[F.lit(coeff(b, d)) for d in range(dims)])
              for b in range(num_bits)]
    bits = [F.when(dot(F.col(vec_col), plane) > 0, F.lit(1)).otherwise(F.lit(0))
            for plane in planes]
    bucket = F.aggregate(
        F.array(*bits), F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b)
    return embeddings.select(F.col(id_col), bucket.alias("bucket"))


def scalar_quantize_int8(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """X3: per-vector symmetric int8 scalar quantization + error audit.

    int8 codes ``floor(x*127/amax + 0.5)`` with ``amax = max(|x|)``
    (the FAISS ``SQ8`` layout); emits ``dims``, ``amax``, ``code_sum``
    (exact BIGINT checksum the oracle reproduces bit-for-bit), ``mse``.
    floor(x + 0.5), not round(): both engines lower to the same IEEE
    floor, sidestepping round-half-to-even divergence. Pure per-row
    HOFs - no Python; at 100 TB this maps over the (naturally wide)
    scan. Shares the ``sq8_wire`` quantizer (tinyint codes; the bigint
    ``code_sum`` accumulator widens them). A compact input spreads
    first (r20): 4.4x at sf0.1, 12x at x10 (OPTIMIZATION_r20.md).
    """
    from .text import spread_for_fanout

    embeddings = spread_for_fanout(embeddings, key=id_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes, amax = sq8_wire(vec_col)
    recon_err = F.zip_with(
        v, codes,
        lambda x, c: F.pow(x - c.cast("double") * amax / 127.0, F.lit(2.0)))
    mse = F.when(
        amax > 0,
        F.aggregate(recon_err, F.lit(0.0), lambda acc, e: acc + e)
        / F.size(F.col(vec_col)).cast("double"),
    ).otherwise(F.lit(0.0))
    return embeddings.select(
        F.col(id_col),
        F.size(F.col(vec_col)).cast("long").alias("dims"),
        amax.alias("amax"),
        F.aggregate(codes, F.lit(0).cast("bigint"),
                    lambda acc, c: acc + c).alias("code_sum"),
        mse.alias("mse"))
