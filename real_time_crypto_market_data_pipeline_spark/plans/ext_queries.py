"""SURVEY section 2.7 extension operators: LLM-training-data pipeline queries.

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
similarity search (brute-force + IVF), and text analysis over the driver's
``documents`` / ``embeddings`` tables - each with an exact DuckDB oracle. See
operators/{dedup,similarity,text}.py for the scale design notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as T
from ..tables import load, load_events
from .registry import query

# Shared oracle CTE fragments (DuckDB dialect). Tokenization and
# shingling must match operators/text.py exactly: lowercase, split on
# single space, drop empties, word-3-gram shingles.
_TOKS = (
    "SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks "
    "FROM documents"
)
_SHINGLES = f"""
    tok AS ({_TOKS}),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(0, len(toks) - 3),
                                      i -> array_to_string(toks[i+1:i+3], ' '))
                  ELSE []::VARCHAR[] END AS shingles
      FROM tok
    )
"""
_MINHASH = f"""
    WITH {_SHINGLES},
    expl AS (
      SELECT doc_id, seed, shingle
      FROM sh, UNNEST(shingles) AS u(shingle), UNNEST(generate_series(0, 7)) AS s(seed)
    ),
    sig AS (
      SELECT doc_id, seed,
             MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS sig
      FROM expl GROUP BY doc_id, seed
    ),
    band AS (
      SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band,
             string_agg(sig, '' ORDER BY seed) AS band_sig
      FROM sig GROUP BY doc_id, CAST(seed // 2 AS INTEGER)
    ),
    buck AS (
      SELECT doc_id, band,
             md5(CAST(band AS VARCHAR) || '|' || band_sig) AS bucket
      FROM band
    )
"""
_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NRM = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_COS = f"{_DOT} / ({_NRM.format(v='{a}')} * {_NRM.format(v='{b}')})"
# guarded twin for CTEs mirroring numpy kernels (zero norms pin to
# cosine 0); fold-backed queries keep raw _COS (NaN both engines).
_COSG = (
    f"{_DOT} / (GREATEST({_NRM.format(v='{a}')}, 1e-12) "
    f"* GREATEST({_NRM.format(v='{b}')}, 1e-12))"
)


# ---------------------------------------------------------------- X1
@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    bench=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup, deterministic min-doc_id representative."""
    return D.exact_dedup(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- X2 (MinHash LSH)
@query(
    "q_dedup_near",
    oracle=_MINHASH + "SELECT doc_id, band, bucket FROM buck",
    bench=True,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash(8 perms) + LSH banding (4 bands x 2 rows) -> bucket table.

    The bucket table IS the LSH index: docs sharing a (band, bucket)
    are near-dup candidates. Signature pass is one keyed shuffle.
    """
    return D.lsh_bucket_table(load(spark, sf_dir, "documents"))


@query(
    "q_dedup_near_pairs",
    oracle=_MINHASH
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buck a JOIN buck b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q_dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: LSH candidate pairs (bucket-local self-join, never a cross join)."""
    return D.lsh_candidate_pairs(D.lsh_bucket_table(load(spark, sf_dir, "documents")))


_SIMHASH = f"""
    WITH tok AS ({_TOKS}),
    t AS (SELECT doc_id, unnest(toks) AS token FROM tok),
    hashed AS (
      SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h FROM t
    ),
    per_bit AS (
      SELECT doc_id, bit,
             CASE WHEN (h >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END AS w
      FROM hashed, UNNEST(generate_series(0, 31)) AS b(bit)
    ),
    votes AS (SELECT doc_id, bit, SUM(w) AS s FROM per_bit GROUP BY doc_id, bit),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0
                           THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


# ---------------------------------------------------------------- X2 (SimHash)
# (q_dedup_simhash folded into q_dedup_simhash_pairs in r6: pairs runs the
# fingerprint stage internally; direct unit test in tests/test_dedup_text.py.)
@query(
    "q_dedup_simhash_pairs",
    oracle=_SIMHASH
    + """,
    bands AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> (b.band * 8)) & 255 AS bv
      FROM fp, UNNEST(generate_series(0, 3)) AS b(band)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.simhash, b.simhash
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (SimHash family): near-dup pairs within Hamming distance 3.

    Pigeonhole blocking over 4 byte-bands of the fingerprint: a pair
    within distance 3 must agree exactly on >= 1 band, so the band
    equi-join has FULL recall (unlike probabilistic MinHash banding)
    and the verify is one xor+popcount per candidate.
    """
    return D.simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------- X2 (Jaccard verify)
def _jaccard_oracle(prune: str = "", src: str = "dsh") -> str:
    """Shared exact/df-capped Jaccard oracle; sizes always keep the
    FULL sets (pruned jaccard = the documented lower bound)."""
    return f"""
    WITH {_SHINGLES},
    dsh AS (
      SELECT DISTINCT doc_id, shingle FROM sh, UNNEST(shingles) AS u(shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id){prune},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
             / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
    """


@query("q_dedup_jaccard", oracle=_jaccard_oracle())
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: top-20 trigram-Jaccard pairs; equi-join on shingles prunes disjoint pairs.

    Oracle-parity form (full exact semantics); the BENCHED twin is
    ``q_dedup_jaccard_pruned`` - the unpruned self-join's volume is
    sum(df^2), the documented 100 TB scale-killer (r14 perf-weak)."""
    return D.jaccard_pairs(load(spark, sf_dir, "documents"), top_k=20)


@query(
    "q_dedup_jaccard_pruned",
    oracle=_jaccard_oracle(prune=""",
    hot AS (SELECT shingle FROM dsh GROUP BY shingle HAVING COUNT(*) > 5),
    kept AS (SELECT doc_id, shingle FROM dsh
             WHERE shingle NOT IN (SELECT shingle FROM hot))""", src="kept"),
    bench=True,
)
def q_dedup_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (benched form, r15): df-capped trigram-Jaccard top-20.

    ``max_df=5`` excludes shingles in > 5 docs from the intersection
    (sizes keep full sets: ``jaccard_pairs``'s documented LOWER-BOUND
    semantics), bounding the self-join at max_df * n rows where the
    exact form carries sum(df^2). The cap sits below this corpus's
    common-phrase df mode (~9) deliberately: its tiny vocabulary makes
    EVERY shingle a stopword-analog, so the benched form exercises the
    guard as a natural 100 TB corpus tunes it (cap far above
    dup-cluster size, below stopword df)."""
    return D.jaccard_pairs(load(spark, sf_dir, "documents"), top_k=20, max_df=5)


# --------------------------------------------- X4+ (composed corpus prep)
@query(
    "q_corpus_prep",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
             len(list_filter(toks, x -> list_contains(
               ['the','a','an','of','to','and','in','is','on','for'], x))) AS stop_hits
      FROM tok
    ),
    scored AS (
      SELECT doc_id,
             LEAST(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 0.4
               + (CASE WHEN n_chars > 0
                       THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END) * 0.4
               + LEAST((CASE WHEN n_tok > 0
                             THEN CAST(stop_hits AS DOUBLE) / n_tok
                             ELSE 0.0 END) * 10.0, 1.0) * 0.2 AS quality
      FROM feat
    ),
    keep AS (
      SELECT d.doc_id, d.source, d.text, s.quality
      FROM documents d JOIN scored s USING (doc_id)
      WHERE s.quality >= 0.5
    ),
    reps AS (SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY md5(text)),
    kept AS (SELECT k.* FROM keep k JOIN reps USING (doc_id))
    SELECT doc_id, source, quality,
           CASE WHEN CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100 < 10
                THEN 'val' ELSE 'train' END AS split
    FROM kept
    """,
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ composed corpus prep: quality gate -> exact dedup -> split.

    The whole pretraining-data funnel as ONE declarative plan over ONE scan
    and ONE shuffle: score and gate fuse into the scan stage (quality_score
    passes source/text through, no join-back), the dedup is a window over
    md5(text) keeping the min doc_id (the plan's single exchange), and the
    hash split is a projection. Asserted in tests/test_plans.py - composing
    operators as DataFrames means the optimizer sees the whole funnel and no
    intermediate corpus materializes.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    keep = T.quality_score(docs, keep_cols=("source", "text")).where(
        F.col("quality") >= 0.5
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        keep.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 6), 16, 10).cast(
        "bigint"
    ) % 100
    return kept.select(
        "doc_id",
        "source",
        "quality",
        F.when(bucket < 10, "val").otherwise("train").alias("split"),
    )


# ------------------------------------------- X2+ (eval decontamination)
# One exact oracle shared by both decontamination variants: the bloom
# path must produce the IDENTICAL answer (bloom prunes, the verify
# join restores exactness), so both queries hash-match the same SQL.
_DECONTAM_ORACLE = f"""
    WITH {_SHINGLES},
    dsh AS (
      SELECT DISTINCT doc_id, shingle FROM sh, UNNEST(shingles) AS u(shingle)
    ),
    src AS (SELECT doc_id, source FROM documents),
    ev AS (
      SELECT DISTINCT shingle FROM dsh JOIN src USING (doc_id)
      WHERE source = 'src0'
    ),
    tr AS (
      SELECT dsh.doc_id, shingle FROM dsh JOIN src USING (doc_id)
      WHERE source <> 'src0'
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM tr JOIN ev USING (shingle)
    GROUP BY doc_id HAVING COUNT(*) >= 2
    """


def _decontam_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct word-3-shingles with source, the shared input
    of both decontamination variants."""
    docs = load(spark, sf_dir, "documents")
    return (
        T.spread_for_fanout(docs)
        .select(
            "doc_id",
            "source",
            F.explode_outer(
                F.array_distinct(T.word_shingles(T.tokens_col(F.col("text")), 3))
            ).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
    )


@query("q_decontaminate", oracle=_DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ decontamination: flag training docs that overlap the eval set.

    The benchmark-leakage scan every training-data pipeline needs: source
    'src0' plays the held-out eval set; any other document sharing >= 2
    distinct shingles with it is flagged with its overlap count. The eval
    shingle set broadcasts (eval corpora are small by construction); the train
    side streams through the semi-join map-side, so the scan of a 100 TB
    training corpus shuffles only the flagged doc ids. At extreme eval sizes,
    drop the broadcast hint: the join becomes shuffle-based and Spark's
    runtime bloom-filter join pruning injects a bloom probe into the train
    scan automatically (the mechanism test_scale_patterns pins on the
    fact-join case); :func:`q_decontaminate_bloom` is that plan made explicit.
    """
    sh = _decontam_shingles(spark, sf_dir)
    ev = (sh.where(F.col("source") == "src0").select("shingle").distinct())
    tr = sh.where(F.col("source") != "src0")
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .where(F.col("n_overlap") >= 2)
    )


@query("q_decontaminate_bloom", oracle=_DECONTAM_ORACLE)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ decontamination, bloom-prefiltered: the 100 TB eval-set plan.

    Same answer as :func:`q_decontaminate`, different physical strategy for
    the regime where the eval shingle SET is too big to broadcast exactly but
    its BITMAP is not: the eval shingles reduce to a 128 KB bloom bitmap
    (distributed build, ``sketches.bloom_bitmap``), the bitmap broadcasts onto
    the train scan, and each train shingle is probed with five O(1) bit tests
    in whole-stage codegen - so the wide exact verify join only ever sees the
    bloom-surviving sliver of the corpus. Survivors are then verified with a
    plain shuffle equi-join (deliberately NOT broadcast: on a 100 TB corpus
    the survivors, not the full train side, are what shuffles), which removes
    bloom false positives and restores exactness - the result hash-matches the
    exact oracle. tests/test_sketches.py asserts both variants agree and pins
    the false-positive margin of the bloom pass itself.
    """
    from ..operators import sketches as SK

    sh = _decontam_shingles(spark, sf_dir)
    ev = (sh.where(F.col("source") == "src0").select("shingle").distinct())
    bitmap = SK.bloom_bitmap(ev, "shingle")
    survivors = (
        sh.where(F.col("source") != "src0")
        .crossJoin(F.broadcast(bitmap))
        .where(SK.bloom_contains(F.col("bloom"), F.col("shingle")))
        .drop("bloom")
    )
    return (
        survivors.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .where(F.col("n_overlap") >= 2)
    )


# ---------------------------------------------------------------- X2 (embedding near-dup)
@query(
    "q_dedup_embed",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.embedding AS ea, b.embedding AS eb
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {_COS.format(a='ea', b='eb')} AS cosine
    FROM pairs ORDER BY cosine DESC, vec_a, vec_b LIMIT 20
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: embedding-cosine near-dup pairs, blocked on label (IVF-cell analog)."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("label") == 0)
    return D.embedding_near_dup(emb, block_col="label", top_k=20)


# ---------------------------------------------------------------- X3 (brute force)
@query(
    "q_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, {_COS.format(a='e.embedding', b='q.qe')} AS cosine
    FROM embeddings e CROSS JOIN q
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """,
    bench=True,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: exact brute-force cosine top-10 (broadcast query, TakeOrdered top-k)."""
    return S.cosine_topk(load(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def _highdim_embeddings(spark: SparkSession, sf_dir: str, reps: int = 16) -> DataFrame:
    """1024-dim synthetic corpus: each 64-dim embedding tiled x16.

    Tiling preserves cosine ordering (cos of tiled vectors == cos of
    originals) while multiplying the arithmetic volume 16x - exactly
    what's needed to measure where the per-element expression fold
    loses to a BLAS matmul.
    """
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.flatten(F.array_repeat(F.col("embedding"), reps)).alias("embedding"),
    )


# full value oracle for the high-dim perf twins: the deterministic
# x16 tiling is replayed in DuckDB SQL (flatten of 16 copies), so both
# twins get the same rowcount+schema+hash check as everything else.
# The 1024-dim list fold costs 16x the 64-dim oracle - irrelevant at
# the sf0.01/sf0.001 scales the oracle runs at.
_HIGHDIM_SQL = (
    "SELECT vec_id, flatten(["
    + ", ".join(["embedding"] * 16)
    + "]) AS embedding FROM embeddings"
)

_HIGHDIM_TOPK_ORACLE = f"""
    WITH hd AS ({_HIGHDIM_SQL}),
    q AS (SELECT embedding AS qe FROM hd WHERE vec_id = 0)
    SELECT e.vec_id, {_COS.format(a='e.embedding', b='q.qe')} AS cosine
    FROM hd e CROSS JOIN q
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """


# (q_cosine_topk_fold_highdim retired r6 - lesson in SCALING.md; the fold
# operator stays oracle-checked via q_cosine_topk + a 1024-dim agreement test.)


@query("q_cosine_topk_arrow_highdim", oracle=_HIGHDIM_TOPK_ORACLE, bench="extra")
def q_cosine_topk_arrow_highdim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 perf twin B: Arrow-batched numpy matmul cosine at 1024 dims.

    One BLAS matmul per Arrow batch replaces 1024 fold steps per row;
    the batch shape and TakeOrdered top-k stay identical to the fold
    twin, so the bench delta isolates the scoring kernel."""
    hd = _highdim_embeddings(spark, sf_dir)
    qvec = hd.where(F.col("vec_id") == 0).first()["embedding"]
    return S.cosine_topk_arrow(hd, list(qvec), k=10)


# ---------------------------------------------------------------- X3 (IVF scale path)
def _ivf_best(prm: str, src: str = "embeddings", pre: str = "",
              route: str = "embedding") -> str:
    """Three-level IVF assignment as DuckDB CTEs, mirroring
    operators/similarity.assign_cells: ``prm`` yields one row with
    c = num_cells, g1 = exact ceil(cbrt(c)) (float pow corrected +-1),
    g2 = least(c, g1^2); ``best`` descends top -> winner's mids ->
    winner's cells, ties -> lowest id at every hop, centroids routed
    down the same hops when parent maps build. ``src``/``pre`` swap the
    vector relation (e.g. ``_EQ_PRE``'s SQ8 ``eq``); ``route`` swaps
    the ROUTING column (``eq.qcodes`` = raw int8 codes, r15 - both hop
    sides raw, matching ``_q8_raw``), with ``best`` joining the
    dequantized embedding back for the downstream pairwise/ring legs."""
    rn = "row_number() OVER (PARTITION BY {p} ORDER BY {s} DESC, {t}) AS rn"

    def hop(name: str, aid: str, avec: str, bid: str, bvec: str, frm: str) -> str:
        keep = f"{aid.split('.')[1]}, {avec.split('.')[1]}, {bid.split('.')[1]}"
        return f"""
    {name} AS (SELECT {keep} FROM (
        SELECT {aid}, {avec}, {bid},
               {rn.format(p=aid, s=_COSG.format(a=avec, b=bvec), t=bid)}
        FROM {frm}) t WHERE rn = 1)"""

    bestn = "best" if route == "embedding" else "best0"
    tail = "" if route == "embedding" else f""",
    best AS (SELECT b.vec_id, e.embedding, b.cell_id
             FROM {bestn} b JOIN {src} e USING (vec_id))"""
    return f"""
    WITH {pre}prm AS (SELECT c, g1, LEAST(c, g1 * g1) AS g2 FROM (
        SELECT c, CASE WHEN r > 1 AND (r-1)*(r-1)*(r-1) >= c THEN r-1
                       WHEN r*r*r >= c THEN r ELSE r+1 END AS g1
        FROM (SELECT c, GREATEST(1, CAST(ROUND(POW(c, 1.0/3.0)) AS BIGINT)) AS r
              FROM ({prm}) prm0) t) t),
    top AS (SELECT vec_id AS top_id, {route} AS tvec
            FROM {src}, prm WHERE vec_id < prm.g1),
    mid AS (SELECT vec_id AS mid_id, {route} AS mvec
            FROM {src}, prm WHERE vec_id < prm.g2),
    cents AS (SELECT vec_id AS cell_id, {route} AS cvec
              FROM {src}, prm WHERE vec_id < prm.c),
    {hop("mmap", "m.mid_id", "m.mvec", "t.top_id", "t.tvec", "mid m CROSS JOIN top t")},
    {hop("ctop", "c.cell_id", "c.cvec", "t.top_id", "t.tvec", "cents c CROSS JOIN top t")},
    {hop("cmap", "ct.cell_id", "ct.cvec", "m.mid_id", "m.mvec",
         "ctop ct JOIN mmap m ON ct.top_id = m.top_id")},
    {hop("vtop", "e.vec_id", f"e.{route}", "t.top_id", "t.tvec",
         f"{src} e CROSS JOIN top t")},
    {hop("vmid", "v.vec_id", f"v.{route}", "m.mid_id", "m.mvec",
         "vtop v JOIN mmap m ON v.top_id = m.top_id")},
    {hop(bestn, "v.vec_id", f"v.{route}", "c.cell_id", "c.cvec",
         "vmid v JOIN cmap c ON v.mid_id = c.mid_id")}{tail}"""


# Spark twin: ivf_assign(num_cells=None) - C = max(1, min(max(8, n//250), n)),
# the n<8 clamp mirrored (similarity.py:356 clamps to available centroid rows)
_DERIVED_CELLS = ("SELECT GREATEST(1, LEAST(GREATEST(8, COUNT(*) // 250),"
                  " COUNT(*))) AS c FROM embeddings")

# transport="int8" wire view: SQ8 quantize -> dequantize, every op in
# the exact order of similarity.sq8_wire + _q8_mat (left-assoc
# c*amax/127.0), so rings/pairwise on ``eq.embedding`` replay Spark
# exactly; ``qcodes`` is the RAW codes matrix the descent routes on
# (r15, similarity._q8_raw - integer dots are exact in float64).
_EQ_PRE = """eq AS (
      SELECT vec_id, CASE WHEN amax > 0
        THEN list_transform(v, x -> floor(x * 127.0 / amax + 0.5) * amax / 127.0)
        ELSE list_transform(v, x -> 0.0) END AS embedding,
      CASE WHEN amax > 0
        THEN list_transform(v, x -> floor(x * 127.0 / amax + 0.5))
        ELSE list_transform(v, x -> 0.0) END AS qcodes
      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
            FROM embeddings) t),
    """


def _split_cte(cap: int) -> tuple[str, str]:
    """Quantile ring split mirroring ``similarity.ring_tiles`` (rank
    by cosine to the cell's min-id member, ties -> lower id). ``fin``
    carries BOTH the parent ``cell_id`` (what the fused kernel emits)
    and ``ring_cell`` = prm.c + cumulative-block + tile (what physical
    ``split_hot_cells`` re-assigns; parent for cold cells). CTEs stay
    MATERIALIZED against DuckDB's multiplicative inlining."""
    tile = (
        "CASE WHEN rn < (cnt % k) * (cnt // k + 1) THEN rn // (cnt // k + 1) "
        "ELSE (cnt % k) + (rn - (cnt % k) * (cnt // k + 1)) // GREATEST(cnt // k, 1) END"
    )
    return f""",
    a0 AS MATERIALIZED (SELECT * FROM best),
    hot AS MATERIALIZED (SELECT cell_id, COUNT(*) AS cnt,
        CAST(CEIL(COUNT(*) / CAST({cap} AS DOUBLE)) AS BIGINT) AS k
        FROM a0 GROUP BY cell_id HAVING COUNT(*) > {cap}),
    blk AS MATERIALIZED (SELECT cell_id, cnt, k,
        (SELECT c FROM prm) + SUM(k) OVER (ORDER BY cell_id) - k AS blk0 FROM hot),
    ax AS MATERIALIZED (SELECT a.cell_id, a.embedding AS avec FROM a0 a
        JOIN (SELECT cell_id, MIN(vec_id) AS m FROM a0 GROUP BY cell_id) t
          ON a.cell_id = t.cell_id AND a.vec_id = t.m),
    ringed AS MATERIALIZED (
        SELECT vec_id, embedding, cell_id, blk0 + {tile} AS ring_cell FROM (
        SELECT a.vec_id, a.embedding, a.cell_id, b.blk0, b.cnt, b.k,
            ROW_NUMBER() OVER (PARTITION BY a.cell_id ORDER BY
                {_COSG.format(a='a.embedding', b='x.avec')} DESC, a.vec_id) - 1 AS rn
        FROM a0 a JOIN blk b ON a.cell_id = b.cell_id JOIN ax x ON x.cell_id = b.cell_id) t),
    fin AS MATERIALIZED (
        SELECT a.vec_id, a.embedding, a.cell_id, a.cell_id AS ring_cell
        FROM a0 a WHERE a.cell_id NOT IN (SELECT cell_id FROM hot)
        UNION ALL SELECT vec_id, embedding, cell_id, ring_cell FROM ringed)""", "fin"


_IVF_SPLIT, _IVF_FINAL = _split_cte(cap=80)


@query(
    "q_ann_ivf",
    oracle=_ivf_best("SELECT 8 AS c")
    + _IVF_SPLIT
    + f""",
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id, CAST(b.ring_cell AS INTEGER) AS cell_id,
           {_COS.format(a='b.embedding', b='q.qe')} AS cosine
    FROM {_IVF_FINAL} b CROSS JOIN q
    WHERE b.ring_cell = (SELECT ring_cell FROM {_IVF_FINAL} WHERE vec_id = 0)
    ORDER BY cosine DESC, b.vec_id LIMIT 5
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: IVF ANN - 8 deterministic centroids, ``max_cell=80`` physical
    ring cap (the disk-partition bound), probe the query's ring."""
    return S.ivf_topk(load(spark, sf_dir, "embeddings"), query_vec_id=0, k=5, max_cell=80)


@query(
    "q_ann_ivf_kmeans",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, {_COS.format(a='e.embedding', b='q.qe')} AS cosine
    FROM embeddings e CROSS JOIN q
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """,
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: k-means-trained IVF at full probe width.

    k-means training is not SQL-expressible, but at n_probe == num_cells
    the result equals exact brute-force top-k FOR ANY trained model -
    the oracle checks that invariant (and the whole normalize -> train
    -> assign -> probe -> score plumbing); pytest pins partial-probe
    recall, the part training quality actually affects.
    """
    return S.ivf_kmeans_topk(
        load(spark, sf_dir, "embeddings"),
        query_vec_id=0,
        k=10,
        num_cells=8,
        n_probe=8,
    )


# q_ann_recall's sweep arguments (tools/explain_dump.py dumps its lazy plan)
ANN_RECALL_SWEEP = dict(query_vec_id=0, k=10, num_cells=8, n_probes=(1, 2, 4))


@query(
    "q_ann_recall",
    oracle=_ivf_best("SELECT 8 AS c")
    + f""",
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cr AS (SELECT cell_id, row_number() OVER (ORDER BY
             {_COS.format(a='cvec', b='qe')} DESC, cell_id) AS rnk
           FROM cents CROSS JOIN q),
    probes AS (SELECT n_probe FROM (VALUES (1), (2), (4)) AS p(n_probe)),
    cand AS (
      SELECT p.n_probe, b.vec_id, row_number() OVER (PARTITION BY p.n_probe
               ORDER BY {_COS.format(a='b.embedding', b='q.qe')} DESC, b.vec_id) AS rn
      FROM best b JOIN cr ON b.cell_id = cr.cell_id
      CROSS JOIN q CROSS JOIN probes p WHERE cr.rnk <= p.n_probe),
    exact AS (SELECT vec_id FROM (
      SELECT e.vec_id, row_number() OVER (ORDER BY
        {_COS.format(a='e.embedding', b='q.qe')} DESC, e.vec_id) AS rn
      FROM embeddings e CROSS JOIN q) t WHERE rn <= 10)
    SELECT CAST(p.n_probe AS INTEGER) AS n_probe,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0 AS recall
    FROM probes p LEFT JOIN (
      SELECT c.n_probe, COUNT(*) AS hits FROM cand c
      JOIN exact e USING (vec_id) WHERE c.rn <= 10 GROUP BY c.n_probe) h
      ON h.n_probe = p.n_probe
    ORDER BY n_probe
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (measurement, r15): recall@10 of the deterministic IVF at
    n_probe in {1, 2, 4} vs brute-force ground truth - the quantified
    form of the docstrings' "usual recall trade". The kmeans-trained
    curve is model-dependent (k-means is not SQL-expressible) and is
    pytest-pinned instead: monotone in n_probe, 1.0 at full probe.
    r16: the sweep rides ONE persisted ``ivf_assign`` shared by ground
    truth, centroid ranking, and every width (``ivf_recall_sweep``)."""
    return S.ivf_recall_sweep(load(spark, sf_dir, "embeddings"), **ANN_RECALL_SWEEP)


# ---------------------------------------------------------------- X4 (token stats)
@query(
    "q_token_stats",
    oracle=f"""
    WITH tok AS ({_TOKS}),
    t AS (SELECT doc_id, unnest(toks) AS token FROM tok)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM t GROUP BY token
    """,
    bench=True,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: token frequency + document frequency (the word-count shuffle)."""
    return T.token_stats(load(spark, sf_dir, "documents"))


@query(
    "q_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS n_pieces,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: regex (BPE-ish pre-tokenizer) token counting."""
    return T.bpe_ish_token_count(load(spark, sf_dir, "documents"))


@query(
    "q_lang_id",
    oracle=f"""
    WITH tok AS ({_TOKS}),
    r AS (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> list_contains(
                         ['the','a','an','of','to','and','in','is','on','for'], x)))
                       AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS stopword_ratio
      FROM tok
    )
    SELECT doc_id, stopword_ratio,
           CASE WHEN stopword_ratio >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
    FROM r
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: stopword-vote language-ID heuristic."""
    return T.language_id(load(spark, sf_dir, "documents"))


@query(
    "q_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
             len(list_filter(toks, x -> list_contains(
               ['the','a','an','of','to','and','in','is','on','for'], x))) AS stop_hits,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                       / len(toks)
                  ELSE 0.0 END AS mean_token_len
      FROM tok
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           mean_token_len,
           CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END
             AS stopword_ratio,
           CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END
             AS alpha_ratio,
           LEAST(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 0.4
             + (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END) * 0.4
             + LEAST((CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END) * 10.0, 1.0) * 0.2
             AS quality
    FROM feat
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: pretraining-data quality features + composite score."""
    return T.quality_score(load(spark, sf_dir, "documents"))


@query(
    "q_repetition_stats",
    oracle=f"""
    WITH tok AS ({_TOKS}),
    g AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM tok
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(0, len(toks) - 2),
                                        i -> array_to_string(toks[i+1:i+2], ' '))
                    ELSE []::VARCHAR[] END) AS gram
      FROM tok
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(0, len(toks) - 3),
                                        i -> array_to_string(toks[i+1:i+3], ' '))
                    ELSE []::VARCHAR[] END) AS gram
      FROM tok
    ),
    pg AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, gram),
    pn AS (SELECT doc_id, n, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top
           FROM pg GROUP BY doc_id, n),
    p AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 1 THEN total END) AS t1,
             MAX(CASE WHEN n = 1 THEN n_distinct END) AS d1,
             MAX(CASE WHEN n = 1 THEN top END) AS top1,
             MAX(CASE WHEN n = 2 THEN total END) AS t2,
             MAX(CASE WHEN n = 2 THEN n_distinct END) AS d2,
             MAX(CASE WHEN n = 3 THEN total END) AS t3,
             MAX(CASE WHEN n = 3 THEN n_distinct END) AS d3
      FROM pn GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(t1 AS BIGINT) AS n_tokens,
           COALESCE(1.0 - CAST(d1 AS DOUBLE) / CAST(t1 AS DOUBLE), 0.0)
             AS dup_unigram_frac,
           COALESCE(1.0 - CAST(d2 AS DOUBLE) / CAST(t2 AS DOUBLE), 0.0)
             AS dup_bigram_frac,
           COALESCE(1.0 - CAST(d3 AS DOUBLE) / CAST(t3 AS DOUBLE), 0.0)
             AS dup_trigram_frac,
           COALESCE(CAST(top1 AS DOUBLE) / CAST(t1 AS DOUBLE), 0.0)
             AS top_unigram_frac,
           (COALESCE(1.0 - CAST(d2 AS DOUBLE) / CAST(t2 AS DOUBLE), 0.0) > 0.4
            OR COALESCE(CAST(top1 AS DOUBLE) / CAST(t1 AS DOUBLE), 0.0) > 0.2)
             AS repetitive
    FROM p
    """,
    bench="extra",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Gopher/C4-style repetition quality filters.

    Duplicate-n-gram fractions (n=1,2,3) + top-token share + composite
    ``repetitive`` gate, per document. One explode pass over all three
    n-gram orders, two map-side-combined shuffles (operators/text.py
    ``repetition_stats``). The signal the length/ratio features in
    q_quality_score cannot see: boilerplate repeats itself.
    """
    return T.repetition_stats(load(spark, sf_dir, "documents"))


@query(
    "q_fingerprint",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(lower(text), '\s+', ' ', 'g') AS norm,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, norm,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(0, len(toks) - 3),
                                      i -> array_to_string(toks[i+1:i+3], ' '))
                  ELSE []::VARCHAR[] END AS sh
      FROM t
    )
    SELECT doc_id, md5(norm) AS fp_text,
           COALESCE(list_min(list_transform(sh, x -> md5(x))), md5(norm)) AS fp_min_shingle
    FROM s
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: document fingerprints - normalized-text md5 + 1-perm MinHash."""
    return T.fingerprint(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- X5
@query(
    "q_media_summary",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           AVG(CAST(doc_id % 64 + 1 AS DOUBLE)) AS avg_width
    FROM documents GROUP BY 1
    """,
)
def q_media_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: metadata-only rollup over the multimodal table.

    The binary payload column must be pruned out of the scan (check
    ReadSchema); the oracle recomputes the deterministic metadata
    directly from documents.
    """
    from ..operators import multimodal as MM

    media = MM.documents_as_media(load(spark, sf_dir, "documents"))
    return MM.media_summary(media)


# The fake embedding is sha256-derived, and DuckDB has sha256(VARCHAR),
# so the WHOLE mapInPandas output is SQL-checkable: unpack each
# little-endian uint32 from the digest hex, divide by 2^32, normalize.
# Same left-to-right summation order as the Python implementation, so
# the doubles are bit-identical, not just 6-digit-close.
_V_EXPRS = [
    f"(CAST('0x'||substr(d,{8 * i + 1},2) AS BIGINT)"
    f" + 256*CAST('0x'||substr(d,{8 * i + 3},2) AS BIGINT)"
    f" + 65536*CAST('0x'||substr(d,{8 * i + 5},2) AS BIGINT)"
    f" + 16777216*CAST('0x'||substr(d,{8 * i + 7},2) AS BIGINT)) / 4294967296.0"
    for i in range(8)
]
_MEDIA_FEATURES_ORACLE = f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             sha256(text) AS d,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    v AS (
      SELECT media_id, kind, d, n_bytes,
             {", ".join(f"{e} AS v{i}" for i, e in enumerate(_V_EXPRS))}
      FROM m
    ),
    n AS (
      SELECT *, SQRT({" + ".join(f"v{i}*v{i}" for i in range(8))}) AS norm0
      FROM v
    ),
    nn AS (
      SELECT *, CASE WHEN norm0 = 0.0 THEN 1.0 ELSE norm0 END AS norm FROM n
    )
    SELECT media_id, kind, d AS sha256, n_bytes,
           {", ".join(f"v{i} / norm AS f{i}" for i in range(8))}
    FROM nn
    """


@query("q_media_features", oracle=_MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: Arrow-batched feature extraction over binary payloads
    (deterministic fake embedding; codec boundary stubbed).

    The feature vector unnests to scalar columns f0..f7 so every value
    the mapInPandas stage produced - digest, byte count, and all eight
    normalized feature doubles - faces the oracle's value hash; the
    DuckDB side recomputes the embedding from sha256 hex with the same
    operation order, making the comparison bit-exact."""
    from ..operators import multimodal as MM

    media = MM.documents_as_media(load(spark, sf_dir, "documents"))
    feats = MM.extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "sha256",
        "n_bytes",
        *[F.col("feat")[i].alias(f"f{i}") for i in range(8)],
    )


@query(
    "q_tfidf",
    oracle=f"""
    WITH tok AS ({_TOKS}),
    t AS (SELECT doc_id, unnest(toks) AS token FROM tok),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: TF-IDF top-5 terms per document (join/agg two-pass weighting)."""
    return T.tf_idf(load(spark, sf_dir, "documents"), top_per_doc=5)


@query(
    "q_dedup_lsh_jaccard",
    oracle=_MINHASH
    + f""",
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buck a JOIN buck b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dsh AS (
      SELECT DISTINCT doc_id, shingle FROM sh, UNNEST(shingles) AS u(shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN dsh a ON a.doc_id = c.doc_a
      JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
             / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE)
            / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5
    """,
    bench=True,
)
def q_dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 production pipeline: LSH candidates verified by exact Jaccard.

    Pairwise cost bounded by LSH bucket co-membership instead of
    shingle co-occurrence - the scalable two-stage near-dup dedup.
    """
    return D.lsh_jaccard_dedup(load(spark, sf_dir, "documents"), min_jaccard=0.5)


# DuckDB replay of chunk_documents (32-token chunks, stride 24),
# shared by the chunking and packing oracles.
_CHUNKS_CTE = f"""
    tok AS ({_TOKS}),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             CAST(floor(CAST(greatest(len(toks) - 32, 0) AS DOUBLE) / 24) AS INTEGER) + 1 AS n_chunks
      FROM tok WHERE len(toks) > 0
    ),
    expl AS (
      SELECT doc_id, toks, CAST(cid AS INTEGER) AS chunk_id
      FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS c(cid)
    )
"""


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH {_CHUNKS_CTE}
    SELECT doc_id, chunk_id,
           array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
           CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS chunk_len
    FROM expl
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: 32-token windows, 8-token overlap."""
    return T.chunk_documents(load(spark, sf_dir, "documents"))


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH {_CHUNKS_CTE},
    ch AS (
      SELECT doc_id, chunk_id,
             CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT)
               AS chunk_len
      FROM expl
    ),
    b AS (
      SELECT doc_id, chunk_id, chunk_len,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                        || CAST(chunk_id AS VARCHAR)), 1, 6)) AS BIGINT)
                  % 16 AS INTEGER) AS bucket
      FROM ch
    ),
    c AS (
      SELECT doc_id, chunk_id, chunk_len, bucket,
             COALESCE(SUM(chunk_len) OVER (
               PARTITION BY bucket ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM b
    )
    SELECT doc_id, chunk_id, chunk_len, bucket,
           CAST(cum_before // 64 AS BIGINT) AS bin
    FROM c
    """,
    bench="extra",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: sequence packing - chunks -> fixed-token-budget bins.

    chunk_documents output packed by text.pack_sequences (bucketed
    streaming fill, md5 bucket hash, 64-token budget) - the step that
    turns a chunked corpus into training sequences. The oracle replays
    the same chunking + bucket hash + window cumsum in SQL, value-
    checking every chunk's bin assignment.
    """
    return T.pack_sequences(
        T.chunk_documents(load(spark, sf_dir, "documents")),
        budget_tokens=64,
        num_buckets=16,
    )


@query(
    "q_corpus_split",
    oracle="""
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100 AS INTEGER)
             AS hash_bucket,
           CASE WHEN CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100 < 10
                THEN 'val' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val split (leakage-safe for dups)."""
    return T.corpus_split(load(spark, sf_dir, "documents"))


@query(
    "q_scrub_text",
    oracle="""
    WITH s AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                 'https?://[^ ]+', '<URL>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g') AS clean_text
      FROM documents
    )
    SELECT doc_id, clean_text,
           CAST(length(text) - length(clean_text) AS BIGINT) AS bytes_removed
    FROM s
    """,
)
def q_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing pass (emails / URLs / long digit runs)."""
    return T.scrub_text(load(spark, sf_dir, "documents"))


@query(
    "q_dedup_clusters",
    oracle=_MINHASH.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buck a JOIN buck b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
    FROM reach GROUP BY src
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 final stage: connected components over LSH candidate pairs.

    Iterative min-label propagation, per-round localCheckpoint (also
    verified against a union-find reference in pytest). The DuckDB
    oracle recomputes components by recursive-CTE transitive closure -
    quadratic in cluster size, which is exactly why the distributed
    form is label propagation instead.
    """
    pairs = D.lsh_candidate_pairs(D.lsh_bucket_table(load(spark, sf_dir, "documents")))
    return D.connected_components(pairs)


@query(
    "q_dedup_retention",
    oracle=_MINHASH.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buck a JOIN buck b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    ),
    lab AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
             d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT component,
           CAST(first(doc_id ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS kept_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lab GROUP BY component
    """,
)
def q_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 retention policy: pick ONE survivor per near-dup cluster.

    The step dedup exists for: near-dup clusters (LSH candidates -> connected
    components) each keep their longest member (ties -> min doc_id); docs
    outside any cluster are their own component and survive. Emits (component,
    kept_doc_id, n_members) - the kept set IS the deduplicated corpus, the
    rest is the drop list. Scale shape: CC over candidate pairs only (bounded
    by LSH bucket co-membership), one left join of the corpus against the
    label table on doc_id, one groupBy(component) with an argmax carried as a
    struct-min - no window, no global sort, no driver-side state
    (composite-ordering argmax compiles to a SortAggregate: partial agg with
    per-partition sorts before the single exchange, the standard Spark plan
    for this shape). The tie-break is total (n_chars DESC then doc_id ASC), so
    the kept set is deterministic under any partitioning/merge order.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(D.lsh_bucket_table(docs))
    comp = D.connected_components(pairs)
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )
    return labeled.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("_neg_len"),
                F.col("doc_id").alias("_id"),
            )
        )["_id"].alias("kept_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )


@query(
    "q_corpus_sample",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 100
          < CASE WHEN source IN ('src0', 'src1') THEN 80 ELSE 30 END
    """,
)
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: deterministic hash sampling per source.

    High-quality sources keep 80%, the rest 30% - the mixing knob of a
    training-data pipeline, reproducible with no RNG state and stable
    under repartitioning (the sample is a pure function of content).
    """
    docs = load(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 6), 16, 10).cast("bigint") % 100
    weight = F.when(F.col("source").isin("src0", "src1"), 80).otherwise(30)
    return docs.where(bucket < weight).select("doc_id", "source")


def _hyperplane_oracle(num_bits: int = 16, dims: int = 64) -> str:
    """Generate the DuckDB oracle with the same md5-derived hyperplane
    coefficients the Spark operator uses - the oracle is built from the
    identical Python constants, so both engines fold identical doubles
    in identical order. The planes travel as a (bit, dim, coeff) VALUES
    relation, re-listed per bit, NOT as nested expression constants: the
    inline form made DuckDB re-evaluate a 1,024-constant tree per row
    (20.9 of the sweep's 22 s, r16 VERDICT); this form is ~300x faster
    with the identical per-plane list_sum fold order, A/B-verified
    value-equal at sf0.01 and sf0.1."""
    import hashlib

    def coeff(bit: int, dim: int) -> float:
        h = hashlib.md5(f"{bit}:{dim}".encode()).hexdigest()
        return int(h[:8], 16) / 2**31 - 1.0

    vals = ", ".join(f"({b}, {d}, {coeff(b, d)!r})"
                     for b in range(num_bits) for d in range(dims))
    return f"""
    WITH planes(bit, dim, coeff) AS (VALUES {vals}),
    pvec AS (SELECT bit, list(coeff ORDER BY dim) AS cv
             FROM planes GROUP BY bit),
    bits AS (
      SELECT e.vec_id, p.bit,
             CASE WHEN list_sum(list_transform(generate_series(1, {dims}),
                  i -> CAST(e.embedding[i] AS DOUBLE) * p.cv[i])) > 0
                  THEN 1 ELSE 0 END AS b
      FROM embeddings e CROSS JOIN pvec p)
    SELECT vec_id,
           CAST(SUM(CAST(b AS BIGINT)
                    * (CAST(1 AS BIGINT) << ({num_bits - 1} - bit)))
                AS BIGINT) AS bucket
    FROM bits GROUP BY vec_id
    """


@query("q_ann_lsh_buckets", oracle=_hyperplane_oracle())
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: hyperplane-LSH bucket assignment (training-free ANN index).

    Sign-bit signature against 16 deterministic hyperplanes; the
    oracle SQL is generated from the same constants, so the fold is
    bit-identical on both engines.
    """
    return S.hyperplane_lsh_buckets(load(spark, sf_dir, "embeddings"))


@query(
    "q_sketch_distinct",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY strftime(ts, '%Y-%m-%d')
    """,
)
def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family: daily distinct users - exact form for the oracle.

    The engine's production path is the mergeable HLL rollup
    (operators/sketches.py, accuracy + merge-identity tested); the
    oracle-checked query here is the exact groupBy-distinct the sketch
    approximates, keyed identically, so the driver verifies the keyed
    rollup shape while pytest verifies the sketch contract.
    """
    from ..operators import sketches as SKC

    ev = load_events(spark, sf_dir)
    daily = SKC.daily_user_sketches(ev)
    # exact values for oracle parity; sketch path exercised above
    return (
        ev.withColumn(
            "dt", F.date_format(F.timestamp_millis(F.col("ms")), "yyyy-MM-dd")
        )
        .groupBy("dt")
        .agg(
            F.countDistinct("user_id").cast("long").alias("exact_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .join(daily.select("dt").withColumn("dt", F.col("dt").cast("string")), "dt", "left_semi")
    )


# ------------------------------------------------- X4 (temperature mixing)
@query(
    "q_mix_temperature",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_source
      FROM documents GROUP BY lang
    ),
    m AS (SELECT MIN(n_source) AS n_min FROM c),
    r AS (
      SELECT lang,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_source AS DOUBLE))
                        * 16777216.0) AS BIGINT) AS thr
      FROM c, m
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE CAST(('0x' || substr(md5(d.text), 1, 6)) AS BIGINT) < thr
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: T=2 temperature-flattened language mixing (deterministic).

    The canonical multilingual-sampling rule: keep-rate per language =
    sqrt(n_min / n_lang), flattening the language distribution toward
    uniform (the synthetic corpus is en-heavy, so ~half the en docs
    are dropped while the smallest language keeps 100%). Division and
    sqrt are both correctly rounded under IEEE 754, so the Spark
    threshold and the DuckDB oracle threshold are bit-identical (a
    general pow() would only be 1-ulp accurate). Census is a 5-row
    aggregate broadcast back; the filter runs in the scan stage.
    """
    return T.temperature_mix(load(spark, sf_dir, "documents"), source_col="lang")


# ------------------------------------------------- X4 (cross-doc boilerplate)
@query(
    "q_boilerplate",
    oracle=f"""
    WITH {_SHINGLES},
    dsh AS (
      SELECT DISTINCT doc_id, shingle FROM sh, UNNEST(shingles) AS u(shingle)
    ),
    boiler AS (
      SELECT shingle FROM dsh GROUP BY shingle HAVING COUNT(*) >= 5
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
      FROM dsh GROUP BY doc_id
    ),
    hits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
      FROM dsh WHERE shingle IN (SELECT shingle FROM boiler)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_boiler, 0) AS BIGINT) AS n_boiler,
           CASE WHEN COALESCE(s.n_shingles, 0) > 0
                THEN CAST(COALESCE(h.n_boiler, 0) AS DOUBLE)
                     / CAST(s.n_shingles AS DOUBLE)
                ELSE 0.0 END AS boiler_ratio
    FROM documents d
    LEFT JOIN sizes s ON s.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: cross-document boilerplate ratio per doc (DF >= 5 trigrams).

    Complements q_repetition_stats (within-doc): a shingle seen in >=5
    distinct documents is template text; the per-doc ratio is the
    RefinedWeb-style trim/drop signal. Boilerplate set is tiny by
    construction -> broadcast left-semi back onto per-doc shingles.
    """
    return T.boilerplate_ngrams(load(spark, sf_dir, "documents"))


# ------------------------------------------------- X4 (training-order shuffle)
@query(
    "q_shuffle_shard",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       AS BIGINT) % 8 AS INTEGER) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM b
    """,
)
def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: deterministic global shuffle into training shards.

    md5-derived shard + in-shard rank: the epoch-0 read order of a
    training job, reproducible with no RNG state. The window
    partitions by shard, so the plan is one hash exchange + per-shard
    sort - never a single-partition global ORDER BY window.
    """
    return T.shuffle_shard(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- X2/X3 (SemDeDup)
_SD_SPLIT, _SD_FINAL = _split_cte(cap=64)


@query(
    "q_semdedup",
    oracle=_ivf_best(_DERIVED_CELLS, src="eq", pre=_EQ_PRE, route="qcodes")
    + _SD_SPLIT
    + f""",
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM {_SD_FINAL} a JOIN {_SD_FINAL} b
        ON a.ring_cell = b.ring_cell AND a.vec_id < b.vec_id
      WHERE {_COSG.format(a='a.embedding', b='b.embedding')} >= 0.40
    )
    SELECT k.vec_id, CAST(k.cell_id AS INTEGER) AS cell_id
    FROM {_SD_FINAL} k
    WHERE k.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3: SemDeDup - IVF-cluster the embeddings, keep one
    representative (min id) per within-cell epsilon-ball.

    Pairwise cosine only inside a cell (sum(cell^2), never n^2);
    num_cells is corpus-derived (the oracle's prm CTE replays the
    derivation) so the DEFAULT scales linearly; threshold 0.40 fits
    this random corpus; ``max_cell=64`` exercises the r9 FUSED ring cap
    at driver scale. ``transport="int8"`` (r10) quantizes in the assign
    worker and rides the SQ8 wire on every later leg - the oracle's
    ``eq`` CTE dequantizes identically and replays the whole chain.
    """
    return D.semantic_dedup(load(spark, sf_dir, "embeddings"), max_cell=64,
                            transport="int8")


# ---------------------------------------------------------------- X1 (ingest form)
@query(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
    ),
    reps AS (
      SELECT h AS text_hash, CAST(MIN(doc_id) AS BIGINT) AS doc_id
      FROM batch GROUP BY h
    )
    SELECT doc_id, text_hash FROM reps
    WHERE text_hash NOT IN (SELECT h FROM corpus)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: incremental ingest dedup - even doc_ids play the existing corpus,
    every third doc the incoming re-crawl batch (the overlap at doc_id % 6 ==
    0 simulates re-crawled pages, so ~a third of the batch is genuinely
    rejected); admitted = intra-batch min-id representatives whose hash is
    unseen in the corpus.

    Both stages shuffle 32-byte md5 keys only; see dedup.incremental_dedup for
    the materialized-hash-set / bloom-prefilter scale notes.
    """
    docs = load(spark, sf_dir, "documents")
    return D.incremental_dedup(
        docs.where(F.col("doc_id") % 3 == 0),
        docs.where(F.col("doc_id") % 2 == 0),
    ).select("doc_id", "text_hash")


# --------------------------------------------- X2 (near-dup, ingest form)
@query(
    "q_dedup_near_incremental",
    oracle=_MINHASH
    + """,
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM buck a JOIN buck b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    dsh AS (SELECT DISTINCT doc_id, shingle
            FROM sh, UNNEST(shingles) AS u(shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common FROM cand c
      JOIN dsh a ON a.doc_id = c.doc_a
      JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b),
    dup AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE)
              / CAST(sa.sz + sb.sz - i.n_common AS DOUBLE) >= 0.5),
    sdrop AS (SELECT DISTINCT doc_b AS doc_id FROM dup
              WHERE doc_a % 2 = 0 AND doc_b % 2 = 0),
    skept AS (SELECT doc_id FROM documents
              WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM sdrop)),
    bdrop AS (
      SELECT d.doc_b AS doc_id FROM dup d
      JOIN skept s ON s.doc_id = d.doc_a WHERE d.doc_b % 2 = 1
      UNION SELECT d.doc_a FROM dup d
      JOIN skept s ON s.doc_id = d.doc_b WHERE d.doc_a % 2 = 1
      UNION SELECT d.doc_b FROM dup d WHERE d.doc_a % 2 = 1 AND d.doc_b % 2 = 1)
    SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
    WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM bdrop)
    """,
)
def q_dedup_near_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (ingest form): incremental LSH near-dup text dedup - the r13 mirror
    of q_semdedup_incremental for the MinHash/LSH family. Even doc_ids are
    yesterday's corpus, distilled into the persisted band-bucket index
    (``lsh_index_build``: min-id survivors with shingle sets inline,
    bkt-partitioned); odd doc_ids are today's batch, admitted only where NO
    kept survivor (either id order - the FIXED seen-set) and NO lower-id batch
    doc shares a band bucket AND verifies at Jaccard >= 0.5. The oracle
    replays the seed min-id dedup and all three drop legs over one
    bucket/shingle CTE chain. The admitted result is eagerly materialized
    inside the operator, so immediate index cleanup is safe."""
    import shutil
    import tempfile

    docs = load(spark, sf_dir, "documents")
    idx = tempfile.mkdtemp(prefix="q_lsh_incr_")
    try:
        D.lsh_index_build(docs.where(F.col("doc_id") % 2 == 0), idx)
        return D.lsh_dedup_incremental(
            docs.where(F.col("doc_id") % 2 == 1), idx, update_index=False)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


# ------------------------------------------------- X2/X3 (SemDeDup, ingest form)
@query(
    "q_semdedup_incremental",
    oracle=_ivf_best(
        "SELECT GREATEST(1, LEAST(GREATEST(8, COUNT(*) // 250), COUNT(*))) AS c"
        " FROM eq WHERE vec_id < (SELECT h FROM half)",
        src="eq",
        pre=_EQ_PRE + "half AS (SELECT COUNT(*) // 2 AS h FROM embeddings),\n    ",
        route="qcodes",
    )
    + f""",
    sdrop AS (SELECT DISTINCT b.vec_id FROM best a JOIN best b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE b.vec_id < (SELECT h FROM half)
        AND {_COSG.format(a='a.embedding', b='b.embedding')} >= 0.40),
    skept AS (SELECT vec_id, cell_id, embedding FROM best
      WHERE vec_id < (SELECT h FROM half)
        AND vec_id NOT IN (SELECT vec_id FROM sdrop)),
    ndrop AS (
      SELECT n.vec_id FROM best n JOIN skept s ON s.cell_id = n.cell_id
      WHERE n.vec_id >= (SELECT h FROM half)
        AND {_COSG.format(a='s.embedding', b='n.embedding')} >= 0.40
      UNION
      SELECT b.vec_id FROM best a JOIN best b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE a.vec_id >= (SELECT h FROM half)
        AND {_COSG.format(a='a.embedding', b='b.embedding')} >= 0.40)
    SELECT vec_id, CAST(cell_id AS INTEGER) AS cell_id FROM best
    WHERE vec_id >= (SELECT h FROM half)
      AND vec_id NOT IN (SELECT vec_id FROM ndrop)
    """,
)
def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 (ingest form): incremental SemDeDup. The first half of the corpus
    (by vec_id) is yesterday's ingest, distilled into a persisted SQ8-codes
    index (``semantic_index_build``); the second half is today's batch,
    admitted only where NO kept seen vector and NO earlier (lower-id) batch
    vector sits within cosine 0.40. The oracle replays index build, batch
    assignment, and both drop legs over the SQ8-dequantized wire in one CTE
    chain. The index lives in a per-run temp dir; the admitted result is
    eagerly materialized inside the operator, so immediate cleanup is safe."""
    import shutil
    import tempfile

    e = load(spark, sf_dir, "embeddings")
    half = e.count() // 2
    idx = tempfile.mkdtemp(prefix="q_semdedup_incr_")
    try:
        D.semantic_index_build(e.where(F.col("vec_id") < half), idx)
        return D.semantic_dedup_incremental(
            e.where(F.col("vec_id") >= half), idx, update_index=False)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


# ------------------------------------------------- X4 (per-source quality gate)
@query(
    "q_quality_topp",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, text,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      FROM documents
    ),
    feat AS (
      SELECT doc_id, source,
             len(toks) AS n_tok,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
             len(list_filter(toks, x -> list_contains(
               ['the','a','an','of','to','and','in','is','on','for'], x))) AS stop_hits
      FROM tok
    ),
    scored AS (
      SELECT doc_id, source,
             LEAST(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 0.4
               + (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END) * 0.4
               + LEAST((CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END) * 10.0, 1.0) * 0.2
               AS quality
      FROM feat
    ),
    ranked AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_source
      FROM scored
    )
    SELECT doc_id, source, quality FROM ranked
    WHERE rn <= CEIL(0.5 * n_source)
    """,
)
def q_quality_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-source top-50% quality gate (FineWeb-style).

    Ranking within source keeps every source represented by its best
    half; doc_id tie-break makes the kept set deterministic. Rank and
    count windows share one source-keyed exchange. The 100 TB
    few-source variant (percentile_approx cutoff broadcast back) is
    documented in text.quality_top_p.
    """
    return T.quality_top_p(load(spark, sf_dir, "documents"))


@query(
    "q_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    a AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
      FROM s
    ),
    q AS (
      SELECT vec_id, v, amax,
             CASE WHEN amax > 0
                  THEN list_transform(v, x -> CAST(floor(x * 127.0 / amax + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
      FROM a
    )
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dims,
           amax,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CASE WHEN amax > 0 THEN
             list_sum(list_transform(generate_series(1, len(v)),
                 i -> POWER(v[i] - CAST(codes[i] AS DOUBLE) * amax / 127.0, 2)))
               / CAST(len(v) AS DOUBLE)
           ELSE 0.0 END AS mse
    FROM q
    """,
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: int8 scalar quantization of the embedding corpus.

    The exact BIGINT code checksum proves the quantized codes match
    the oracle element-for-element; mse audits reconstruction error.
    See operators/similarity.scalar_quantize_int8 for the scale story
    (4x storage cut before IVF partitioning; pure map, no shuffle).
    """
    return S.scalar_quantize_int8(load(spark, sf_dir, "embeddings"))


@query(
    "q_filter_funnel",
    oracle="""
    WITH f AS (
      SELECT source, length(text) AS n_chars,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                       / length(text) ELSE 0.0 END AS digit_ratio,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                       / length(text) ELSE 0.0 END AS alpha_ratio,
             lang
      FROM documents
    ),
    staged AS (
      SELECT source, n_chars,
             CASE WHEN n_chars < 150 THEN 'too_short'
                  WHEN lang <> 'en' THEN 'non_target_lang'
                  WHEN digit_ratio > 0.2 THEN 'too_numeric'
                  WHEN alpha_ratio < 0.55 THEN 'low_alpha'
                  ELSE 'kept' END AS stage
      FROM f
    )
    SELECT source, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM staged GROUP BY source, stage
    """,
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: first-failing-rule attrition report per source.

    See operators/text.filter_funnel: one corpus pass, rules ordered
    so stages partition the corpus (a funnel, not overlapping rule
    counts); the shuffle carries O(sources x stages) rows.
    """
    return T.filter_funnel(load(spark, sf_dir, "documents"))
