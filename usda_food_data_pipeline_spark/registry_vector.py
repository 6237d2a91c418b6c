"""Vector / similarity-search queries (SURVEY §2.7).

Oracle parity note: Spark-side cosine is a sequential double fold
(operators/similarity.py); DuckDB's ``list_dot_product`` over DOUBLE[]
is bit-identical to that fold (verified), so scores compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.portable_ln import grid_decimal_col as _grid_decimal_col
from .functions.portable_ln import grid_nanos_col as _grid_nanos_col
from .functions.portable_ln import sql_grid_decimal as _sql_grid_decimal
from .functions.portable_ln import sql_grid_nanos as _sql_grid_nanos
from .operators.dedup import DEFAULT_MAX_BUCKET, cap_bucket_qualify_sql
from .operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    knn_join,
)
from .registry import register
from .sources.tables import load_table

# DuckDB cosine between two DOUBLE[] expressions, same op structure as
# operators.similarity.cosine: dot / (norm_a * norm_b).
def _cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


COSINE_TOPK_ORACLE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {_cos('e.embedding::DOUBLE[]', 'q.qv')} AS score
FROM embeddings e, q
ORDER BY score DESC, vec_id LIMIT 10
"""


@register(
    "cosine_topk",
    COSINE_TOPK_ORACLE,
    "exact cosine top-10 (reference V2: index.query(top_k=10), app.py:63-68)",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return cosine_topk(emb, query, k=10)


IVF_TOPK_ORACLE = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           {_cos('e.embedding::DOUBLE[]', 'c.cv')} AS cs
    FROM embeddings e CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM scored
    ) WHERE rn = 1
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY {_cos('q.qv', 'c.cv')} DESC, c.cid) AS rn
        FROM q, cents c
    ) WHERE rn = 1
)
SELECT a.vec_id, {_cos('a.embedding::DOUBLE[]', 'q.qv')} AS score
FROM assigned a, q, probe WHERE a.cid = probe.cid
ORDER BY score DESC, a.vec_id LIMIT 10
"""


@register(
    "ivf_topk",
    IVF_TOPK_ORACLE,
    "IVF approximate top-10: probe only the query's nearest-centroid cluster",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    query = emb.filter(F.col("vec_id") == 0)
    return ivf_topk(emb, centroids, query, k=10)


def _pack_sql(lo: int, hi: int) -> str:
    """DuckDB twin of operators/similarity.sign_bitpack for one word:
    integer fold acc*2 + (v>0) over the 1-based inclusive slice."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(embedding[{lo}:{hi}], "
        f"v -> CASE WHEN v > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), "
        f"(a, x) -> a * 2 + x)"
    )


NEARDUP_ORACLE = f"""
WITH p AS (
    -- content blocking: sign pattern of the first 8 dims (the
    -- semantic_dedup bucket scheme — data-bounded occupancy), not a
    -- fixed-cardinality metadata label (degenerates at scale)
    SELECT vec_id, embedding, {_pack_sql(1, 8)} AS bkt FROM embeddings
),
g AS (
    -- oversized-block guard twin (operators/dedup.cap_bucket_size)
    SELECT * FROM p
    {cap_bucket_qualify_sql('bkt', DEFAULT_MAX_BUCKET)}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} AS score
FROM g a JOIN g b
  ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE {_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} >= 0.3
"""


@register(
    "embedding_neardup",
    NEARDUP_ORACLE,
    "embedding-cosine near-duplicate pairs, sign-bit-bucket content blocking",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 rework (r04 verdict task 1): label blocking degenerated
    at 10× scale (fixed cardinality → every block over cap → zero
    recall); the sign-bit bucket is the semantic_dedup scheme whose
    occupancy tracks embedding-space density (sf1: max bucket 160,
    zero drops)."""
    from .session import guard

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, threshold=0.3, bucket_bits=8,
        observation=guard("embedding_neardup"),
    )


KNN_JOIN_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20
),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {_cos('e.embedding::DOUBLE[]', 'q.qv')} AS score
    FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= 3
"""


@register(
    "knn_join",
    KNN_JOIN_ORACLE,
    "brute-force k-NN join: top-3 neighbors for each of 20 query vectors",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return knn_join(queries, emb, k=3)


# ---------------------------------------------------------------------------
# int8 embedding quantization (storage-scale path for 100 TB corpora)
# ---------------------------------------------------------------------------

QUANTIZE_ORACLE = """
WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM t)
SELECT vec_id, scale,
       array_to_string(
           list_transform(v, x -> CAST(least(127.0, greatest(-127.0,
               CASE WHEN scale = 0 THEN 0.0 ELSE floor(x / scale + 0.5) END))
               AS INTEGER)), ',') AS q
FROM s
"""


@register(
    "quantize_embeddings",
    QUANTIZE_ORACLE,
    "symmetric int8 quantization of the embedding column (4x storage cut)",
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered twin serializes ``q`` (array<int>) to a comma-joined
    string on BOTH sides: the driver's pandas canonicalizer cannot sort
    list cells (r03's one red row), and the local gate now rejects
    non-scalar output columns outright.  API users get the array via
    :func:`operators.similarity.quantize_embeddings_df` directly."""
    from .operators.similarity import quantize_embeddings_df

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings_df(emb)
    return out.select(
        "vec_id",
        "scale",
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q"),
    )


# ---------------------------------------------------------------------------
# Binary sign-bit sketch + Hamming ANN (256-bit -> 64-bit index path)
# ---------------------------------------------------------------------------

HAMMING_ORACLE = f"""
WITH packed AS (
    SELECT vec_id, {_pack_sql(1, 32)} AS w0, {_pack_sql(33, 64)} AS w1
    FROM embeddings
),
q AS (SELECT w0 AS qw0, w1 AS qw1 FROM packed WHERE vec_id = 0)
SELECT p.vec_id, p.w0, p.w1,
       bit_count(xor(p.w0, q.qw0)) + bit_count(xor(p.w1, q.qw1)) AS hamming
FROM packed p, q
ORDER BY hamming ASC, p.vec_id ASC LIMIT 10
"""


@register(
    "hamming_topk",
    HAMMING_ORACLE,
    "sign-bit sketch (64 floats -> two 32-bit words) + Hamming top-10, all-integer ordering",
)
def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return hamming_topk(emb, query, k=10, dim=64)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical list and
# the cosine vector list (functions/retrieval.rrf_fuse)
# ---------------------------------------------------------------------------

def _rrf_oracle() -> str:
    from .functions.portable_ln import POWS_CTE, sql_grid_nanos
    from .registry_text import _BM25_TERMS, _bm25_scored_ctes

    # the shipped rrf value snaps onto the 9-dp grid with floor integer
    # math (portable_ln) — float round() tie/scaling behavior is
    # engine-specific
    rrf_snap = f"CAST({sql_grid_nanos('rrf')} AS DOUBLE) / 1000000000.0"
    return f"""
WITH {POWS_CTE},
{_bm25_scored_ctes(_BM25_TERMS)},
lex AS (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r
    FROM scores ORDER BY bm25 DESC, doc_id LIMIT 20
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
vec AS (
    SELECT vec_id AS doc_id,
           CAST(row_number() OVER (
               ORDER BY list_dot_product(e.embedding::DOUBLE[], q.v)
                        / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(q.v, q.v))) DESC, vec_id
           ) AS INTEGER) AS r
    FROM embeddings e, qv q
    ORDER BY r LIMIT 20
),
fused AS (
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.r AS rank_lexical, v.r AS rank_vector,
           COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.r), CAST(0.0 AS DOUBLE)) AS rrf
    FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rank_lexical, rank_vector, {rrf_snap} AS rrf
FROM fused ORDER BY fused.rrf DESC, doc_id LIMIT 10
"""


@register(
    "rrf_fusion",
    _rrf_oracle(),
    "hybrid retrieval: reciprocal-rank fusion of BM25 top-20 and cosine top-20",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .functions.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_topk
    from .registry_text import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    vec = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("vec_id")))
        .alias("rank"),
    )
    return rrf_fuse(lex, vec, "doc_id", k=10)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (operators/similarity.semantic_dedup)
# ---------------------------------------------------------------------------

SEMANTIC_DEDUP_ORACLE = f"""
WITH p AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, {_pack_sql(1, 8)} AS bkt
    FROM embeddings
),
pg AS (
    -- oversized-bucket guard twin: pair generation only; vectors in
    -- over-cap buckets still appear in the survivor base below
    SELECT * FROM p {cap_bucket_qualify_sql('bkt', DEFAULT_MAX_BUCKET)}
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM pg a JOIN pg b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    WHERE {_cos('a.v', 'b.v')} >= 0.3
)
SELECT vec_id, bkt AS bucket FROM p
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register(
    "semantic_dedup",
    SEMANTIC_DEDUP_ORACLE,
    "SemDeDup: sign-bit bucket blocking + intra-bucket cosine pruning, keep-lowest-id",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup
    from .session import guard

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, threshold=0.3, bucket_bits=8,
        observation=guard("semantic_dedup"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign random projection (operators/similarity.jl_project)
# ---------------------------------------------------------------------------

def _jl_oracle(out_dim: int = 16, in_dim: int = 64) -> str:
    from .operators.similarity import _jl_signs

    signs = _jl_signs(out_dim, in_dim)
    inv = 1.0 / float(out_dim) ** 0.5  # 0.25 for out_dim 16 — dyadic, exact
    cols = []
    for j, row in enumerate(signs):
        lit = "[" + ", ".join(("1.0" if x > 0 else "-1.0") for x in row) + "]"
        # list_reduce seeded with 0.0 pins the LEFT-TO-RIGHT fold order —
        # bit-identical to Spark's aggregate() sum
        cols.append(
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, {in_dim + 1}), "
            f"i -> embedding[CAST(i AS INTEGER)]::DOUBLE * {lit}[CAST(i AS INTEGER)])), "
            f"(a, x) -> a + x) * {inv!r} AS y{j}"
        )
    return "SELECT vec_id,\n  " + ",\n  ".join(cols) + "\nFROM embeddings"


@register(
    "jl_projection",
    _jl_oracle(),
    "Johnson-Lindenstrauss sign projection: 64 -> 16 floats, pinned fold order, scan-local",
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_project(emb, out_dim=16, in_dim=64)


# ---------------------------------------------------------------------------
# Class-prototype centroids: mean embedding per label
# ---------------------------------------------------------------------------

PROTOTYPES_ORACLE = f"""
WITH e AS (
    SELECT label, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos,
       CAST(sum({_sql_grid_decimal(_sql_grid_nanos('CAST(v AS DOUBLE)'), 18, 9)}) AS DECIMAL(38,9)) AS sum_v,
       count(*) AS n
FROM e GROUP BY label, pos
"""


@register(
    "label_prototypes",
    PROTOTYPES_ORACLE,
    "class-prototype centroids: per-(label, dim) decimal-exact component sums + counts",
)
def q_label_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per class in long form — the prototype table
    SemDeDup-style clustering, nearest-class-mean classification, and
    centroid-seeded IVF all start from. Ships (sum, n) on an exact
    decimal grid rather than a float mean so the result is
    aggregation-order-independent; the exchange carries
    (label, dim, partial_sum) rows — bounded by |labels| x dim, never
    corpus-sized. posexplode is scan-local."""
    from .sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding")).alias("pos0", "v")
        )
        .select(
            "label",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            _grid_decimal_col(_grid_nanos_col(F.col("v").cast("double")), 18, 9).alias("_v"),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum("_v").cast("decimal(38,9)").alias("sum_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (operators/similarity.semantic_decontaminate)
# ---------------------------------------------------------------------------

SEMANTIC_DECONTAMINATE_ORACLE = f"""
WITH p AS (
    SELECT vec_id, embedding, {_pack_sql(1, 8)} AS bkt FROM embeddings
),
c_all AS (SELECT * FROM p WHERE vec_id % 10 <> 0),
c AS (
    SELECT * FROM c_all
    {cap_bucket_qualify_sql('bkt', DEFAULT_MAX_BUCKET)}
),
b AS (
    -- the BENCHMARK side is never capped (ADVICE r07 medium: the Spark
    -- operator stopped capping it in r07 — a capped twin would diverge
    -- whenever an eval bucket exceeds the guard, green only by data
    -- luck); recall-preserving on both engines by construction
    SELECT * FROM p WHERE vec_id % 10 = 0
),
flagged AS (
    SELECT DISTINCT c.vec_id
    FROM c JOIN b ON c.bkt = b.bkt
    WHERE {_cos('c.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} >= 0.3
)
SELECT a.vec_id, a.bkt AS bucket
FROM c_all a LEFT JOIN flagged f ON a.vec_id = f.vec_id
WHERE f.vec_id IS NULL
"""


@register(
    "semantic_decontaminate",
    SEMANTIC_DECONTAMINATE_ORACLE,
    "drop corpus vectors within cosine 0.3 of any held-out benchmark vector (sign-bucket blocked)",
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the semantic twin of the
    n-gram decontaminate screen: paraphrased eval leakage that shares
    no exact trigram still lands near its source in embedding space.
    Every-10th vector stands in for the held-out benchmark set."""
    from .operators.similarity import semantic_decontaminate
    from .session import guard

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    return semantic_decontaminate(
        corpus, bench, threshold=0.3, bucket_bits=8,
        observation=guard("semantic_decontaminate"),
    )


# ---------------------------------------------------------------------------
# K-means clustering (operators/kmeans.py): exact-integer Lloyd rounds
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITER = 3


def _kmeans_oracle(k: int = _KM_K, n_iter: int = _KM_ITER) -> str:
    from .operators.kmeans import GRID, SCALE, SHIFT

    rounds = []
    for t in range(1, n_iter + 1):
        rounds.append(f"""
d{t} AS (
    SELECT pl.vec_id, c.cl,
           CAST(sum((pl.xq * {GRID} - c.cn) * (pl.xq * {GRID} - c.cn)) AS BIGINT) AS dd
    FROM pl JOIN c{t - 1} c ON c.pos = pl.pos
    GROUP BY pl.vec_id, c.cl
),
a{t} AS (
    SELECT vec_id, CAST(min(dd * {k} + cl) % {k} AS INTEGER) AS cluster
    FROM d{t} GROUP BY vec_id
),
u{t} AS (
    SELECT a.cluster AS cl, pl.pos, sum(pl.xq) AS s, count(*) AS n
    FROM a{t} a JOIN pl ON pl.vec_id = a.vec_id
    GROUP BY a.cluster, pl.pos
),
c{t} AS (
    SELECT p.cl, p.pos,
           CAST(coalesce((2 * u.s * {GRID} + u.n) // (2 * u.n), p.cn) AS BIGINT) AS cn
    FROM c{t - 1} p LEFT JOIN u{t} u ON u.cl = p.cl AND u.pos = p.pos
)""")
    body = ",".join(rounds)
    fin = n_iter + 1
    return f"""
WITH pl AS (
    SELECT vec_id, CAST(pos AS INTEGER) AS pos,
           CAST(floor(CAST(v AS DOUBLE) * {SCALE}) + {SHIFT} AS BIGINT) AS xq
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
),
seedmap AS (
    SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
),
c0 AS (
    SELECT s.cl, pl.pos, pl.xq * {GRID} AS cn
    FROM seedmap s JOIN pl ON pl.vec_id = s.vec_id
),{body},
dfin AS (
    SELECT pl.vec_id, c.cl,
           CAST(sum((pl.xq * {GRID} - c.cn) * (pl.xq * {GRID} - c.cn)) AS BIGINT) AS dd
    FROM pl JOIN c{n_iter} c ON c.pos = pl.pos
    GROUP BY pl.vec_id, c.cl
)
SELECT vec_id,
       CAST(min(dd * {k} + cl) % {k} AS INTEGER) AS cluster,
       CAST(min(dd) AS BIGINT) AS d2
FROM dfin GROUP BY vec_id
"""


@register(
    "kmeans_embeddings",
    _kmeans_oracle(),
    "Lloyd k-means over embeddings: 3 exact-integer rounds from the 8 "
    "lowest-id seeds, final assignment + squared grid distance",
)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=_KM_K, n_iter=_KM_ITER)


# ---------------------------------------------------------------------------
# Cluster-balanced sampling (D4 / SemDeDup-style topic balancing):
# k-means assign + per-cluster deterministic cap — over-represented
# regions of embedding space are downsampled to at most `cap` docs
# ---------------------------------------------------------------------------

_CB_CAP = 12
_CB_SEED = 17


def _cluster_balanced_oracle() -> str:
    from .operators.dedup import oracle_md5_int_sql

    h = oracle_md5_int_sql("CAST(vec_id AS VARCHAR)", _CB_SEED)
    return f"""
SELECT vec_id, cluster, rk FROM (
    SELECT vec_id, cluster,
           CAST(row_number() OVER (
               PARTITION BY cluster ORDER BY {h}, vec_id
           ) AS INTEGER) AS rk
    FROM (SELECT vec_id, cluster FROM ({_kmeans_oracle()}) _ka)
) WHERE rk <= {_CB_CAP}
"""


@register(
    "cluster_balanced_sample",
    _cluster_balanced_oracle(),
    f"topic-balanced corpus selection: exact-integer k-means clusters, at "
    f"most {_CB_CAP} vectors kept per cluster by content-hash order",
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D4/SemDeDup curation move — cluster the embedding space and
    cap each cluster so over-represented topics are downsampled —
    expressed as the attested exact-integer Lloyd assignment plus one
    rank window.  The kept-set is a pure function of content
    (md5-ordered within cluster, ties to vec_id): reproducible under
    any partitioning or cluster size, like every sampler in the engine.

    Scale shape: the cluster-keyed window would be k giant partitions
    at 100 TB, but the ``rk <= cap`` filter compiles to
    WindowGroupLimit (partial per-partition top-cap before the
    exchange), so each task forwards at most cap rows per cluster —
    bounded by the parameter, not the data."""
    from pyspark.sql import Window

    from .operators.dedup import md5_int
    from .operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=_KM_K, n_iter=_KM_ITER)
    h = md5_int(F.col("vec_id").cast("string"), _CB_SEED)
    w = Window.partitionBy("cluster").orderBy(h, F.col("vec_id"))
    return (
        assign.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _CB_CAP)
        .select("vec_id", "cluster", "rk")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

_HN_TOP = 5

HARD_NEGATIVES_ORACLE = f"""
WITH a AS (
    SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av, label AS al
    FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2560
)
SELECT anchor_id, negative_id, rank, score FROM (
    SELECT a.anchor_id, e.vec_id AS negative_id,
           {_cos('e.embedding::DOUBLE[]', 'a.av')} AS score,
           row_number() OVER (
               PARTITION BY a.anchor_id
               ORDER BY {_cos('e.embedding::DOUBLE[]', 'a.av')} DESC, e.vec_id
           ) AS rank
    FROM a JOIN embeddings e ON e.label != a.al
) WHERE rank <= {_HN_TOP}
"""


@register(
    "hard_negative_mining",
    HARD_NEGATIVES_ORACLE,
    "contrastive hard negatives: top-5 max-cosine cross-label neighbors "
    "per sampled anchor",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training (the mining step behind
    embedding-model fine-tuning, e.g. SimCSE/E5-style recipes): for
    each sampled anchor, the ``top`` most-similar vectors carrying a
    DIFFERENT label — the negatives that actually move the loss.

    Scale shape: anchors are a bounded sample (first 128 anchor ids —
    fixed size no matter the corpus) → broadcast; the corpus
    streams through one scan scoring |anchors| cosines per row, and the
    per-anchor top-k is a window over (anchor, score) — the exact
    brute-force baseline, same contract as cosine_topk. The label
    inequality rides the broadcast join condition, so same-label pairs
    never materialize. A blocked variant at higher anchor counts is
    knn_join (sign-bucket candidate generation, same scoring fold).
    """
    from pyspark.sql import Window

    from .operators.similarity import _with_double_vec, cosine
    from .sources.tables import spread

    # cast once per row, below the join, not once per scored pair
    emb = _with_double_vec(spread(load_table(spark, sf_dir, "embeddings")), "embedding")
    anchors = F.broadcast(
        # the anchor set must be SIZE-bounded, not rate-bounded: a pure
        # modulus grows with the corpus and turns the scan quadratic
        # (sf1 smoke measured 30x at 10x data before the cap)
        emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 20 * 128)).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("av"),
            F.col("label").alias("al"),
        )
    )
    scored = emb.join(anchors, F.col("label") != F.col("al")).select(
        "anchor_id",
        F.col("vec_id").alias("negative_id"),
        cosine(F.col("embedding"), F.col("av")).alias("score"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_TOP)
        .select("anchor_id", "negative_id", "rank", "score")
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation (operators/similarity.ann_recall_eval): recall@10
# of the IVF nprobe=1 index vs brute-force exact ground truth
# ---------------------------------------------------------------------------

_ARE_K = 10
_ARE_NQ = 16

ANN_RECALL_ORACLE = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
),
qs AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {_ARE_NQ}
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos('e.embedding::DOUBLE[]', 'q.qv')} DESC, e.vec_id
               ) AS rn
        FROM qs q JOIN embeddings e ON e.vec_id != q.query_id
    ) WHERE rn <= {_ARE_K}
),
assigned AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
probes AS (
    SELECT query_id, qv, cid AS probe FROM (
        SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos('q.qv', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM qs q CROSS JOIN cents c
    ) WHERE rn = 1
),
ivf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_cos('a.embedding::DOUBLE[]', 'p.qv')} DESC, a.vec_id
               ) AS rn
        FROM probes p JOIN assigned a ON a.cid = p.probe AND a.vec_id != p.query_id
    ) WHERE rn <= {_ARE_K}
),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN ivf i ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
)
SELECT x.query_id,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(v.n_ivf, 0) AS BIGINT) AS n_ivf,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / {_ARE_K} AS recall
FROM (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id) x
LEFT JOIN (SELECT query_id, count(*) AS n_ivf FROM ivf GROUP BY query_id) v
       ON v.query_id = x.query_id
LEFT JOIN hits h ON h.query_id = x.query_id
"""


@register(
    "ann_recall_eval",
    ANN_RECALL_ORACLE,
    "per-query recall@10 of the IVF nprobe=1 index vs brute-force exact "
    "cosine ground truth (the eval every ANN deployment ships with)",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ann_recall_eval

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < _ARE_NQ)
    return ann_recall_eval(emb, centroids, queries, k=_ARE_K)


# ---------------------------------------------------------------------------
# Product quantization (operators/kmeans.pq_quantize): per-subspace
# exact-integer Lloyd codebooks + PQ codes — the memory-bound ANN
# index structure (Jégou et al. 2011)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_ITER = 4, 16, 2


def _pq_ctes(m: int, k: int, n_iter: int, prefix: str = "") -> tuple[str, str]:
    """Shared CTE body for the PQ family: quantized positions, seed
    map, per-subspace Lloyd rounds, final codebooks (c{n_iter}_{j}),
    per-(vector, centroid) exact distances (dfin_{j} — the ADC lookup
    table restricted to min is the code), and per-vector codes
    (afin_{j}).  Returns (with_body, afin_join_chain).  ``prefix``
    namespaces every CTE so two chains (e.g. ivf_adc's coarse m=1
    quantizer and its fine PQ books) can share one WITH clause; the
    emitted column names (code_{j}, dsub_{j}) are unprefixed — they
    are scoped per CTE."""
    from .operators.kmeans import GRID, SCALE, SHIFT

    P = prefix

    subs = []
    finals = []
    for j in range(m):
        rounds = []
        for t in range(1, n_iter + 1):
            rounds.append(f"""
{P}d{t}_{j} AS (
    SELECT pl.vec_id, c.cl,
           CAST(sum((pl.xq * {GRID} - c.cn) * (pl.xq * {GRID} - c.cn)) AS BIGINT) AS dd
    FROM {P}pl{j} pl JOIN {P}c{t - 1}_{j} c ON c.pos = pl.pos
    GROUP BY pl.vec_id, c.cl
),
{P}a{t}_{j} AS (
    SELECT vec_id, CAST(min(dd * {k} + cl) % {k} AS INTEGER) AS cluster
    FROM {P}d{t}_{j} GROUP BY vec_id
),
{P}u{t}_{j} AS (
    SELECT a.cluster AS cl, pl.pos, sum(pl.xq) AS s, count(*) AS n
    FROM {P}a{t}_{j} a JOIN {P}pl{j} pl ON pl.vec_id = a.vec_id
    GROUP BY a.cluster, pl.pos
),
{P}c{t}_{j} AS (
    SELECT p.cl, p.pos,
           CAST(coalesce((2 * u.s * {GRID} + u.n) // (2 * u.n), p.cn) AS BIGINT) AS cn
    FROM {P}c{t - 1}_{j} p LEFT JOIN {P}u{t}_{j} u ON u.cl = p.cl AND u.pos = p.pos
)""")
        subs.append(f"""
{P}pl{j} AS (
    SELECT pl.vec_id, pl.pos, pl.xq
    FROM {P}pl pl CROSS JOIN {P}dims
    WHERE pl.pos > ({j} * {P}dims.dim) // {m}
      AND pl.pos <= ({j + 1} * {P}dims.dim) // {m}
),
{P}c0_{j} AS (
    SELECT s.cl, pl.pos, pl.xq * {GRID} AS cn
    FROM {P}seedmap s JOIN {P}pl{j} pl ON pl.vec_id = s.vec_id
),""" + ",".join(rounds) + f""",
{P}dfin_{j} AS (
    SELECT pl.vec_id, c.cl,
           CAST(sum((pl.xq * {GRID} - c.cn) * (pl.xq * {GRID} - c.cn)) AS BIGINT) AS dd
    FROM {P}pl{j} pl JOIN {P}c{n_iter}_{j} c ON c.pos = pl.pos
    GROUP BY pl.vec_id, c.cl
),
{P}afin_{j} AS (
    SELECT vec_id,
           CAST(min(dd * {k} + cl) % {k} AS INTEGER) AS code_{j},
           CAST(min(dd) AS BIGINT) AS dsub_{j}
    FROM {P}dfin_{j} GROUP BY vec_id
)""")
        finals.append(f"{P}afin_{j}")

    join_chain = finals[0] + " a0"
    for j in range(1, m):
        join_chain += f" JOIN {finals[j]} a{j} ON a{j}.vec_id = a0.vec_id"
    body = ",".join(subs)
    with_body = f"""
{P}pl AS (
    SELECT vec_id, CAST(pos AS INTEGER) AS pos,
           CAST(floor(CAST(v AS DOUBLE) * {SCALE}) + {SHIFT} AS BIGINT) AS xq
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
),
{P}dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS dim FROM embeddings),
{P}seedmap AS (
    SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
),{body}"""
    return with_body, join_chain


def _pq_oracle(m: int = _PQ_M, k: int = _PQ_K, n_iter: int = _PQ_ITER) -> str:
    with_body, join_chain = _pq_ctes(m, k, n_iter)
    code_cols = ", ".join(f"a{j}.code_{j}" for j in range(m))
    d2 = " + ".join(f"a{j}.dsub_{j}" for j in range(m))
    return f"""WITH {with_body}
SELECT a0.vec_id, {code_cols}, CAST({d2} AS BIGINT) AS d2
FROM {join_chain}
"""


@register(
    "pq_quantize",
    _pq_oracle(),
    f"product quantization: {_PQ_M} subspaces x {_PQ_K}-centroid "
    "exact-integer Lloyd codebooks, per-vector PQ codes + total grid "
    "distortion",
)
def q_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import pq_quantize
    from .sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return pq_quantize(emb, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER)


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (operators/kmeans.pq_adc_topk): top-k by
# sum of per-subspace LUT lookups over PQ codes — the compressed-domain
# scoring path of an IVF-PQ index (Jégou et al. 2011 §IV.A)
# ---------------------------------------------------------------------------

_ADC_NQ, _ADC_TOPK = 16, 10


def _pq_adc_oracle(
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    nq: int = _ADC_NQ,
    top_k: int = _ADC_TOPK,
) -> str:
    # dfin_{j}(vec_id, cl, dd) holds the exact distance from EVERY
    # vector's subspace-j slice to EVERY codebook centroid — restricted
    # to vec_id < nq it IS the query lookup table, so the ADC score is
    # a pure re-join of the shared CTEs: LUT row at the corpus code.
    with_body, join_chain = _pq_ctes(m, k, n_iter)
    lut_joins = f"JOIN dfin_0 l0 ON l0.vec_id < {nq} AND l0.cl = a0.code_0"
    for j in range(1, m):
        lut_joins += (
            f"\n    JOIN dfin_{j} l{j} ON l{j}.vec_id = l0.vec_id"
            f" AND l{j}.cl = a{j}.code_{j}"
        )
    adc = " + ".join(f"l{j}.dd" for j in range(m))
    return f"""WITH {with_body},
scores AS (
    SELECT l0.vec_id AS query_id, a0.vec_id AS neighbor_id,
           CAST({adc} AS BIGINT) AS adc_d2
    FROM {join_chain}
    {lut_joins}
    WHERE a0.vec_id != l0.vec_id
)
SELECT query_id, neighbor_id, adc_d2, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
    FROM scores
) WHERE rank <= {top_k}
"""


@register(
    "pq_adc_topk",
    _pq_adc_oracle(),
    f"asymmetric-distance PQ search: top-{_ADC_TOPK} per query by exact "
    f"integer LUT sums over {_PQ_M}-subspace PQ codes (compressed-domain "
    "ANN scoring)",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import pq_adc_topk
    from .sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return pq_adc_topk(
        emb, n_queries=_ADC_NQ, top_k=_ADC_TOPK, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER
    )


# ---------------------------------------------------------------------------
# IVF-ADC search (operators/kmeans.ivf_adc_topk): coarse-cell pruning +
# compressed-domain ADC scoring — the full IVFADC index read path
# (Jégou et al. 2011 §V)
# ---------------------------------------------------------------------------

_IVF_KC = 8
_IVF_NPROBE = 2  # multiprobe: the standard IVF recall knob (nprobe=1
                 # probed 1/8 of the corpus and measured recall@10 0.21
                 # on the structureless synthetic embeddings; 2 cells
                 # roughly doubles the candidate set for ~the same LUT)


def _ivf_adc_scores_ctes(
    kc: int = _IVF_KC,
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    nq: int = _ADC_NQ,
    nprobe: int = 1,
) -> str:
    # two prefixed _pq_ctes chains share one WITH clause: the coarse
    # quantizer is the m=1 special case (cv_afin_0.code_0 IS the cell),
    # the fine chain is pq_adc's; the probe filter is one extra pair of
    # cell-equality joins on the corpus and query vec_ids.  Returns the
    # full "WITH ..., scores AS (...)" body shared by the ivf_adc_topk
    # oracle and the adc_recall_eval oracle.
    coarse_body, _ = _pq_ctes(1, kc, n_iter, prefix="cv_")
    fine_body, join_chain = _pq_ctes(m, k, n_iter)
    lut_joins = f"JOIN dfin_0 l0 ON l0.vec_id < {nq} AND l0.cl = a0.code_0"
    for j in range(1, m):
        lut_joins += (
            f"\n    JOIN dfin_{j} l{j} ON l{j}.vec_id = l0.vec_id"
            f" AND l{j}.cl = a{j}.code_{j}"
        )
    adc = " + ".join(f"l{j}.dd" for j in range(m))
    # per-query probed cells: rank every coarse-centroid distance of the
    # query rows by the exact (dd, cl) key and keep the top nprobe —
    # the same winnowing tie rule the Spark side sorts by
    return f"""WITH {coarse_body}, {fine_body},
qcells AS (
    SELECT vec_id AS query_id, CAST(cl AS INTEGER) AS cell FROM (
        SELECT vec_id, cl, row_number() OVER (
            PARTITION BY vec_id ORDER BY dd, cl) AS rn
        FROM cv_dfin_0 WHERE vec_id < {nq}
    ) WHERE rn <= {nprobe}
),
scores AS (
    SELECT l0.vec_id AS query_id, a0.vec_id AS neighbor_id,
           CAST({adc} AS BIGINT) AS adc_d2
    FROM {join_chain}
    {lut_joins}
    JOIN cv_afin_0 cc ON cc.vec_id = a0.vec_id
    JOIN qcells qc ON qc.query_id = l0.vec_id AND qc.cell = cc.code_0
    WHERE a0.vec_id != l0.vec_id
)"""


def _ivf_adc_oracle(
    kc: int = _IVF_KC,
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    nq: int = _ADC_NQ,
    top_k: int = _ADC_TOPK,
    nprobe: int = _IVF_NPROBE,
) -> str:
    return f"""{_ivf_adc_scores_ctes(kc, m, k, n_iter, nq, nprobe)}
SELECT query_id, neighbor_id, adc_d2, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
    FROM scores
) WHERE rank <= {top_k}
"""


@register(
    "ivf_adc_topk",
    _ivf_adc_oracle(),
    f"IVF-ADC search: {_IVF_KC}-cell coarse quantizer, "
    f"nprobe={_IVF_NPROBE} multiprobe + exact-integer ADC scoring over "
    f"{_PQ_M}-subspace PQ codes — the full compressed-domain index "
    "read path",
)
def q_ivf_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import ivf_adc_topk
    from .sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_adc_topk(
        emb,
        n_queries=_ADC_NQ,
        top_k=_ADC_TOPK,
        kc=_IVF_KC,
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_PQ_ITER,
        nprobe=_IVF_NPROBE,
    )


def _adc_recall_oracle(
    kc: int = _IVF_KC,
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    nq: int = _ADC_NQ,
    top_k: int = _ADC_TOPK,
    nprobe: int = _IVF_NPROBE,
) -> str:
    # ANN side: the shared ivf_adc scores CTE ranked to top_k. Truth
    # side: exact integer squared distance between quantized vectors
    # (the unprefixed fine chain's pl CTE is the quantized position
    # table), same (d2, neighbor) tie rule. Hits via count(non-null) —
    # never sum(CASE): DuckDB widens integer SUM to HUGEINT.
    return f"""{_ivf_adc_scores_ctes(kc, m, k, n_iter, nq, nprobe)},
ann AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
        FROM scores
    ) WHERE rank <= {top_k}
),
qpl AS (SELECT vec_id AS query_id, pos, xq FROM pl WHERE vec_id < {nq}),
truth AS (
    SELECT q.query_id, p.vec_id AS neighbor_id,
           CAST(sum((q.xq - p.xq) * (q.xq - p.xq)) AS BIGINT) AS d2
    FROM qpl q JOIN pl p ON p.pos = q.pos AND p.vec_id != q.query_id
    GROUP BY q.query_id, p.vec_id
),
truth_k AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY d2, neighbor_id) AS rn
        FROM truth
    ) WHERE rn <= {top_k}
)
SELECT t.query_id,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits
FROM truth_k t LEFT JOIN ann a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""


@register(
    "adc_recall_eval",
    _adc_recall_oracle(),
    f"recall@{_ADC_TOPK} of the IVFADC path (nprobe={_IVF_NPROBE}) vs "
    "exact integer brute force: isolates cell-prune + PQ-compression "
    "loss (integer hit counts, exactly twinnable)",
)
def q_adc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import adc_recall_eval
    from .sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return adc_recall_eval(
        emb,
        n_queries=_ADC_NQ,
        top_k=_ADC_TOPK,
        kc=_IVF_KC,
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_PQ_ITER,
        nprobe=_IVF_NPROBE,
    )


_RERANK_K = 30


def _adc_rerank_oracle(
    kc: int = _IVF_KC,
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    nq: int = _ADC_NQ,
    top_k: int = _ADC_TOPK,
    rerank_k: int = _RERANK_K,
    nprobe: int = _IVF_NPROBE,
) -> str:
    # stage 1: the shared scores CTE ranked to rerank_k (the wide ADC
    # pool); stage 2: exact integer distances recomputed from pl for
    # ONLY the pool pairs, re-ranked with the (d2, neighbor) tie rule.
    return f"""{_ivf_adc_scores_ctes(kc, m, k, n_iter, nq, nprobe)},
pool AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
        FROM scores
    ) WHERE rank <= {rerank_k}
),
exact AS (
    SELECT c.query_id, c.neighbor_id,
           CAST(sum((q.xq - p.xq) * (q.xq - p.xq)) AS BIGINT) AS exact_d2
    FROM pool c
    JOIN pl q ON q.vec_id = c.query_id
    JOIN pl p ON p.vec_id = c.neighbor_id AND p.pos = q.pos
    GROUP BY c.query_id, c.neighbor_id
)
SELECT query_id, neighbor_id, exact_d2, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY exact_d2, neighbor_id) AS rank
    FROM exact
) WHERE rank <= {top_k}
"""


@register(
    "adc_rerank_topk",
    _adc_rerank_oracle(),
    f"two-stage IVFADC read: {_RERANK_K}-deep compressed-domain ADC "
    f"pool re-ranked by exact integer distance to top-{_ADC_TOPK} "
    "(the production rerank pattern)",
)
def q_adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import adc_rerank_topk
    from .sources.tables import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return adc_rerank_topk(
        emb,
        n_queries=_ADC_NQ,
        top_k=_ADC_TOPK,
        rerank_k=_RERANK_K,
        kc=_IVF_KC,
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_PQ_ITER,
        nprobe=_IVF_NPROBE,
    )


# ---------------------------------------------------------------------------
# ES weighted sampling (operators/topk.weighted_sample_es): quality-
# weighted corpus subsampling without replacement — the knob between
# uniform seeded_sample and hard dsir_select
# ---------------------------------------------------------------------------

_WS_N, _WS_SEED = 200, 77


def _weighted_sample_oracle(n: int = _WS_N, seed: int = _WS_SEED) -> str:
    from .functions.portable_ln import (
        LN2,
        POWS_CTE,
        py_grid_nanos,
        sql_grid_nanos,
        sql_ln_select,
    )
    from .operators.dedup import oracle_md5_int_sql

    ceiling = py_grid_nanos(48.0 * LN2)
    h = oracle_md5_int_sql("CAST(doc_id AS VARCHAR)", seed)
    base = (
        f"(SELECT doc_id, lang, n_chars, ({h}) AS _h FROM documents)"
    )
    ln_sel = sql_ln_select(
        base,
        keep=["doc_id", "lang", "n_chars"],
        terms={"h1": "_h + 1"},
        outputs=[("_ln_h", "_ln_h1")],
    )
    key = (
        f"(({ceiling} - {sql_grid_nanos('_ln_h')}) * 1000000)"
        f" // greatest(CAST(n_chars AS BIGINT), 1)"
    )
    return f"""WITH {POWS_CTE},
lns AS ({ln_sel})
SELECT doc_id, lang, n_chars FROM (
    SELECT *, row_number() OVER (ORDER BY ({key}), doc_id) AS _rn
    FROM lns
) WHERE _rn <= {n}
"""


@register(
    "weighted_sample",
    _weighted_sample_oracle(),
    f"Efraimidis-Spirakis weighted sample without replacement (n={_WS_N}, "
    "weight=n_chars): per-row portable-chain ln of a 48-bit content "
    "hash, exact integer micro-grid ES key",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.topk import weighted_sample_es

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_sample_es(
        docs,
        n=_WS_N,
        seed=_WS_SEED,
        key_col="doc_id",
        weight_col=F.greatest(F.col("n_chars"), F.lit(1)),
    )


# ---------------------------------------------------------------------------
# Vector-index datacard: per-dimension embedding statistics — the health
# read an ANN deployment does before building/serving an index (variance
# collapse detection, int8/PQ quantization range calibration)
# ---------------------------------------------------------------------------

# dyadic grid for exact cross-engine sums of float components: x is
# float32 (exact as double), x * 2^20 is an exact power-of-two scaling,
# floor is exact => per-dim sums are exact BIGINT in both engines
_VS_GRID = 1 << 20

VECTOR_STATS_ORACLE = f"""
SELECT CAST(pos AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       min(v) AS min_v,
       max(v) AS max_v,
       CAST(sum(CAST(floor(v * {_VS_GRID}) AS BIGINT)) AS BIGINT) AS sum_q
FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
GROUP BY pos
"""


@register(
    "vector_stats",
    VECTOR_STATS_ORACLE,
    "per-dimension embedding datacard: count, min/max, exact dyadic-grid "
    "component sum (index health / quantization calibration)",
)
def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One posexplode + a 64-group aggregate with map-side combine: the
    exchange carries (dim, partial stats) rows — dimensionality-bounded,
    never corpus-bounded, at any scale.  min/max of doubles are exact
    order-free; the mean rides as an exact integer grid sum (float
    double-sums are aggregation-order-dependent and banned from
    compared columns — the quality_bins lesson)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("v").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("pos0", "v"))
        .select((F.col("pos0") + 1).cast("int").alias("dim"), v.alias("v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.sum(F.floor(F.col("v") * F.lit(float(_VS_GRID))).cast("bigint")).alias("sum_q"),
        )
    )
