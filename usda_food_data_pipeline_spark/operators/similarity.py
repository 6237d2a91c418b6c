"""Vector similarity operators (SURVEY §2.7 V1/V2 + ANN extensions).

Reference analog: Pinecone cosine top-k=10 over dim-1024 e5 embeddings
(utils/upload_data_to_pinecone.py:26-27, usda-food-assistant/app.py:55-70).
Here the index is a plain embeddings table (`vec_id, embedding
array<float|double>, label`) and search is expressed as DataFrame ops:

- exact: per-row dot-product fold (zip_with + aggregate — pure Catalyst
  expressions, JVM-side, no UDF) + TakeOrderedAndProject. One scan, no
  shuffle; the scan runs a task per split, and the index build
  (``sources.sinks.build_embedding_index``) writes a file per core. At
  100 TB this is the "re-rank" path. The query is either a vector held
  on the driver, which becomes a constant ``array<double>`` in the
  projection (no join, no broadcast job: the serving path), or a 1-row
  DataFrame broadcast into a nested-loop join (a query that is itself a
  row of some table).
- IVF (inverted file): assign every vector to its nearest centroid
  (broadcast the centroid set), search only the query's probe cluster.
  The assignment is a one-off batch job (in production: persisted +
  partitioned by centroid_id so a probe prunes partitions); the probe
  then scans 1/n_centroids of the data.
- near-dup pairs: blocked self-join on a coarse key (label / LSH
  bucket), cosine over pairs.

All arithmetic is double-precision sequential folds — bit-identical to
DuckDB's ``list_dot_product`` on DOUBLE[] (verified empirically), so
results are oracle-checkable exactly.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _with_double_vec(df: DataFrame, vec_col: str) -> DataFrame:
    """``df`` with ``vec_col`` as ``array<double>``: ``df`` itself when
    the column already is one, else the elementwise cast in a projection
    of its own. A select that folds the column three times (its dot
    product and its norm) then casts each row once, not once per fold:
    the optimizer does not inline a non-trivial expression into a
    projection that reads it more than once."""
    t = df.schema[vec_col].dataType
    if isinstance(t, ArrayType) and isinstance(t.elementType, DoubleType):
        return df
    return df.withColumn(vec_col, as_double_array(vec_col))


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (deterministic fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return cosine_normed(a, b, l2_norm(b))


def cosine_normed(a: Column, b: Column, b_norm: Column) -> Column:
    """:func:`cosine` with ``b``'s norm given, for a ``b`` shared by
    every row: the same arithmetic, one fold fewer per row."""
    # try_divide: ANSI mode (Spark 4 default) makes /0 THROW; a zero
    # vector should yield NULL score, not kill the job
    return F.try_divide(dot(a, b), l2_norm(a) * b_norm)


def _vector_literal(vec: Sequence[float]) -> tuple[Column, Column]:
    """A driver-side vector as a constant ``array<double>`` column and
    its norm as a constant, folded in :func:`l2_norm`'s order so the
    scores match the DataFrame-query form bit for bit."""
    xs = [float(x) for x in vec]
    sq = 0.0
    for x in xs:
        sq += x * x
    # one SQL literal, parsed once on the JVM (repr round-trips a double
    # exactly); F.lit would cross Py4J once per element
    elems = ", ".join(f"{x!r}D" for x in xs)
    return F.expr(f"array({elems})"), F.lit(math.sqrt(sq))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame | Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``embeddings[vec_col]`` against one query,
    then TakeOrderedAndProject (score descending, ties by ``id_col``;
    a zero vector on either side scores NULL and sorts last).

    ``query`` is either a vector (a sequence of floats, e.g. a query
    embedded on the driver): it enters the projection as a literal
    ``array<double>`` with its norm precomputed, so the plan is one scan
    with no join; or a 1-row DataFrame with ``vec_col``: it is broadcast
    into a nested-loop join, its norm computed once on that row.

    The reference's `index.query(top_k=10)` (app.py:63-68). Scale shape:
    one full scan, k-row heaps per partition, k rows to the driver —
    no shuffle of the data itself.
    """
    embeddings = _with_double_vec(embeddings, vec_col)
    v = F.col(vec_col)
    if isinstance(query, DataFrame):
        q = _with_double_vec(query, vec_col).select(v.alias("_qvec"), l2_norm(v).alias("_qnorm"))
        embeddings = embeddings.crossJoin(F.broadcast(q))
        qvec, qnorm = F.col("_qvec"), F.col("_qnorm")
    else:
        qvec, qnorm = _vector_literal(query)
    scored = embeddings.select(F.col(id_col), cosine_normed(v, qvec, qnorm).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (ties → smallest
    centroid id). Broadcast-join + max_by aggregation; one shuffle on
    the vector id only if the input isn't already unique per row (it
    is — so in practice this is shuffle-free with the broadcast)."""
    cent = F.broadcast(
        _with_double_vec(centroids, vec_col).select(
            F.col(centroid_id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
        )
    )
    # score a double copy, cast once per row below the join; the output
    # keeps the input's vector type
    emb = _with_double_vec(embeddings.withColumn("_v", F.col(vec_col)), "_v")
    scored = emb.crossJoin(cent).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_cid"),
        cosine(F.col("_v"), F.col("_cvec")).alias("_cscore"),
    )
    # argmax via max_by over a (score, -cid) struct → deterministic ties
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col("_cid"), F.struct(F.col("_cscore"), (-F.col("_cid")).alias("neg"))
        ).alias("centroid_id"),
        F.first(vec_col).alias(vec_col),
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Approximate top-k: probe only the query's nearest centroid's
    cluster. At scale the assignment table is partitioned by
    centroid_id → the probe is a partition-pruned scan of ~1/C of the
    data, then the exact top-k path."""
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col, centroid_id_col)
    best_centroid = (
        ivf_assign(query.select(F.lit(0).alias(id_col), F.col(vec_col)), centroids,
                   id_col, vec_col, centroid_id_col)
        .select(F.col("centroid_id").alias("_probe"))
    )
    probe_cluster = assigned.join(
        F.broadcast(best_centroid), assigned.centroid_id == F.col("_probe"), "inner"
    ).select(id_col, vec_col)
    return cosine_topk(probe_cluster, query, k, id_col, vec_col)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block: int | None = None,
    observation=None,
    bucket_bits: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by cosine within a blocking key.

    Blocking is CONTENT-based: the sign pattern of the first
    ``bucket_bits`` embedding dimensions (the :func:`sign_bitpack`
    sketch — exactly the scheme that keeps
    :func:`semantic_dedup` bounded: max bucket 160 at sf1, zero
    drops). r04 verdict task 1: the previous metadata default (a label
    column) degenerated at 10× scale — label cardinality is fixed, so
    every block outgrew the guard cap and recall honestly dropped to
    zero; sign-bucket occupancy instead tracks the local density of the
    embedding space, which is what near-dup pair generation actually
    costs. Near-identical vectors share the sign pattern, so recall
    concentrates exactly on the near-dup pairs the operator exists to
    find (ANN semantics: a pair straddling a sign boundary can be
    missed).

    Output (id_a, id_b, score), id_a < id_b, score >= threshold.

    Blocks above ``max_block`` vectors are dropped before the self-join
    (``operators.dedup.cap_bucket_size``): genuine mass duplication
    (thousands of identical vectors) has inherently quadratic true
    output — the guard bounds per-block work at max_block² and reports
    drops via ``observation``.
    """
    # precompute norms once per row — one fold per PAIR instead of three
    from ..sources.tables import spread
    from .dedup import DEFAULT_MAX_BUCKET, cap_bucket_size

    if max_block is None:
        max_block = DEFAULT_MAX_BUCKET
    embeddings = spread(embeddings)
    block = sign_bitpack(F.col(vec_col), dim=bucket_bits, word_bits=bucket_bits)[0]
    prepped = embeddings.select(
        block.alias("_blk"),
        F.col(id_col).alias("_id"),
        as_double_array(vec_col).alias("_v"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    prepped = cap_bucket_size(prepped, ["_blk"], max_block, observation)
    a, b = prepped.alias("a"), prepped.alias("b")
    score = F.try_divide(dot(F.col("a._v"), F.col("b._v")), F.col("a._n") * F.col("b._n"))
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def knn_join(
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force k-NN join: for every query vector, its k nearest
    neighbors (excluding itself). Broadcast the (small) query set; the
    big side streams once. Per-query top-k via window row_number."""
    from pyspark.sql import Window

    q = F.broadcast(
        _with_double_vec(queries, vec_col).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    from ..sources.tables import spread

    embeddings = _with_double_vec(spread(embeddings), vec_col)
    scored = embeddings.crossJoin(q).filter(F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col(vec_col), F.col("_qv")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) embedding sketch + Hamming-distance search
# ---------------------------------------------------------------------------

def sign_bitpack(vec_col: Column | str, dim: int, word_bits: int = 32) -> list[Column]:
    """Pack the sign bits of a float vector into integer words:
    bit i of the sketch is 1 iff vec[i] > 0.

    A 64-dim float32 embedding becomes two 32-bit words — 256 bits →
    8 bytes, a 32× storage cut — and Hamming distance over the words
    approximates angular distance (the classic sign-random-projection
    sketch; here the projection is the identity since the embeddings
    are already dense and centered).

    Each word is an integer fold ``acc*2 + (v>0)`` over a 32-element
    slice — pure Catalyst expressions, exact integer arithmetic, so the
    packed values are bit-identical in any engine (DuckDB oracle:
    ``list_reduce`` over the same slice). Avoids pow()/shift-by-column
    float hazards entirely.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if dim % word_bits:
        raise ValueError(f"dim {dim} not a multiple of word_bits {word_bits}")
    words = []
    for w in range(dim // word_bits):
        sl = F.slice(c, w * word_bits + 1, word_bits)
        words.append(
            F.aggregate(
                sl,
                F.lit(0).cast("bigint"),
                lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0),
            )
        )
    return words


def hamming_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest by Hamming distance over sign-bit sketches.

    The corpus packs to words inside the scan projection; the 1-row
    query's words broadcast; distance = sum of bit_count(xor(word
    pairs)) — all integer ops inside whole-stage codegen, so ordering
    is fully deterministic (no float near-ties). TakeOrderedAndProject
    keeps a k-row heap per task: no shuffle, k rows per task reach the
    driver. At scale the packed words are the stored index (8 bytes vs
    256 bytes/vector); the float re-rank runs cosine_topk on the
    Hamming candidates only.

    Output: (id, words..., hamming) for the k nearest (the query vector
    itself ranks first at distance 0 when it is part of the corpus).
    """
    n_words = dim // 32
    corpus = embeddings.select(
        F.col(id_col),
        *[
            w.alias(f"w{i}")
            for i, w in enumerate(sign_bitpack(vec_col, dim))
        ],
    )
    qw = query.select(
        *[
            w.alias(f"qw{i}")
            for i, w in enumerate(sign_bitpack(vec_col, dim))
        ]
    )
    dist = None
    for i in range(n_words):
        term = F.bit_count(F.col(f"w{i}").bitwiseXOR(F.col(f"qw{i}")))
        dist = term if dist is None else dist + term
    return (
        corpus.crossJoin(F.broadcast(qw))
        .select(id_col, *[f"w{i}" for i in range(n_words)], dist.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col))
        .limit(k)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    bucket_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop every vector whose
    cosine similarity to a LOWER-id vector in the same sign-bit bucket
    is >= ``threshold``; the lowest id of each near-dup group survives.

    The bucket is the sign pattern of the first ``bucket_bits``
    embedding dimensions (an integer fold — the :func:`sign_bitpack`
    sketch), standing in for the k-means cluster id the SemDeDup paper
    uses: near-identical embeddings share the pattern, so candidate
    pairs come from a bucketed equi-join, never an all-pairs product.
    At 100 TB the bucket key is also the storage partition key, so the
    self-join is co-located; more bits → smaller buckets → the
    quadratic term stays bounded.

    Greedy keep-lowest-id (not transitive closure): a survivor set
    computable in ONE join pass. For full transitive clustering use
    ``operators.dedup.connected_components`` on the pair output of
    :func:`embedding_neardup_pairs`.

    Reference analog: the reference uploads every embedding row to its
    index (utils/upload_data_to_pinecone.py:21-34); this prunes
    near-identical rows first so the index holds one copy per
    semantic group.
    """
    from ..sources.tables import spread

    prepped = spread(embeddings).select(
        F.col(id_col).alias("_id"),
        as_double_array(vec_col).alias("_v"),
        sign_bitpack(F.col(vec_col), dim=bucket_bits, word_bits=bucket_bits)[0].alias(
            "_bkt"
        ),
    ).withColumn("_n", l2_norm(F.col("_v")))
    # quadratic-pair backstop: buckets above max_bucket generate no pairs
    # (their vectors all SURVIVE — the guard applies to pair generation
    # only, never to the output base); drops reported via `observation`
    from .dedup import DEFAULT_MAX_BUCKET, cap_bucket_size

    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET
    joinable = cap_bucket_size(prepped, ["_bkt"], max_bucket, observation)
    a, b = joinable.alias("a"), joinable.alias("b")
    score = F.try_divide(dot(F.col("a._v"), F.col("b._v")), F.col("a._n") * F.col("b._n"))
    dropped = (
        a.join(b, (F.col("a._bkt") == F.col("b._bkt")) & (F.col("a._id") < F.col("b._id")))
        .filter(score >= threshold)
        .select(F.col("b._id").alias("_drop"))
        .distinct()
    )
    # slim to the two output columns BEFORE the anti-join: its id-keyed
    # exchange then carries 16-byte rows instead of dragging the
    # 64-double vector through the shuffle (AQE broadcasts `dropped`
    # when it is small; either way the payload is ids + buckets)
    return (
        prepped.select("_id", "_bkt")
        .join(dropped, F.col("_id") == dropped["_drop"], "left_anti")
        .select(F.col("_id").alias(id_col), F.col("_bkt").alias("bucket"))
    )


def quantize_embeddings_df(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|v|/127``,
    ``q_i = clamp(floor(v_i/scale + 0.5), -127, 127)``; ``q_i * scale``
    recovers ``v_i`` within ``scale/2``.

    4x smaller than float32 (plus one double per vector).
    floor(x+0.5) instead of round(): identical half-up behavior in Spark
    and the DuckDB oracle. A zero vector quantizes to all zeros (scale 0
    guard).

    A two-stage projection: ``scale`` (an O(dim) array fold)
    materializes ONCE per row in stage 1, and the per-element quantize
    lambda in stage 2 references the column. Inlined single-select use
    re-evaluates the scale fold inside every element's lambda —
    O(dim^2) per row, ~3x slower at dim 64.
    Returns (id, scale, q).
    """
    from ..sources.tables import spread

    pre = spread(df).select(
        F.col(id_col), as_double_array(vec_col).alias("_v")
    ).select(
        F.col(id_col),
        F.col("_v"),
        (F.array_max(F.transform("_v", F.abs)) / F.lit(127.0)).alias("scale"),
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.least(
            F.lit(127.0),
            F.greatest(
                F.lit(-127.0),
                F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
                    F.floor(x / F.col("scale") + F.lit(0.5))
                ),
            ),
        ).cast("int"),
    )
    return pre.select(F.col(id_col), F.col("scale"), q.alias("q"))


def _jl_signs(out_dim: int, in_dim: int, seed: int = 13) -> list[list[float]]:
    """Deterministic ±1 sign matrix for :func:`jl_project` — plan-time
    constants (md5 of (seed, i, j) parity), identical literals in the
    Spark plan and the SQL oracle, so no runtime hashing and no
    cross-engine hash portability concern."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"jl{seed}:{i}:{j}".encode()).digest()[0] % 2 else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    out_dim: int,
    in_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: compress a
    ``in_dim``-float embedding to ``out_dim`` floats (y_j = x · r_j /
    sqrt(out_dim), r_j ∈ {±1}^d) preserving pairwise distances within
    the JL bound — the float-precision middle ground between raw
    vectors and the 1-bit :func:`sign_bitpack` sketch (4x-16x storage
    cut, cosine still meaningful on the projected vectors).

    Scan-local arithmetic only: each output dim is one zip_with
    multiply + a LEFT-TO-RIGHT aggregate fold over the input array.
    The fold order is pinned so both engines produce bit-identical
    IEEE sums (no pairwise/tree summation ambiguity); the sign matrix
    is plan-time literals. No shuffle, no UDF — at 100 TB this is a
    projection inside the scan, written back as the compressed
    serving column.
    """
    from ..sources.tables import spread

    signs = _jl_signs(out_dim, in_dim, seed)
    inv = 1.0 / float(out_dim) ** 0.5
    v = as_double_array(vec_col)
    pre = spread(df).select(F.col(id_col), v.alias("_v"))
    outs = []
    for j, row in enumerate(signs):
        lit = F.array(*[F.lit(x) for x in row])
        dotj = F.aggregate(
            F.zip_with(F.col("_v"), lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        outs.append((dotj * F.lit(inv)).alias(f"y{j}"))
    return pre.select(F.col(id_col), *outs)


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.3,
    bucket_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Embedding-space decontamination: drop corpus vectors whose cosine
    to ANY benchmark/eval vector reaches ``threshold`` — the semantic
    twin of the n-gram ``decontaminate`` screen (paraphrased test-set
    leakage that shares no exact n-grams still lands nearby in
    embedding space).

    Candidate generation blocks both sides on the sign pattern of the
    first ``bucket_bits`` dimensions (the attested semantic_dedup
    scheme; occupancy tracks embedding-space density) and joins
    bucket-equal pairs only — never all-pairs. The guard cap applies to
    the CORPUS side's pair generation only: every corpus vector
    survives unless flagged, and over-cap buckets are reported via
    ``observation``, not silently decided. The BENCHMARK side is never
    capped (ADVICE r06, medium): it is eval-set-sized by definition, so
    it cannot blow up pair counts the way the corpus can, and a dropped
    benchmark vector would silently lower screen recall — a false
    negative in a leakage filter, the one failure direction a
    decontamination screen must not have. Per-bucket pair work stays
    bounded by max_bucket × |benchmark bucket| ≤ max_bucket × |eval
    set|. Returns the surviving (id, bucket) rows.
    """
    from ..sources.tables import spread
    from .dedup import DEFAULT_MAX_BUCKET, cap_bucket_size

    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET

    def prep(df: DataFrame) -> DataFrame:
        return spread(df).select(
            F.col(id_col).alias("_id"),
            as_double_array(vec_col).alias("_v"),
            sign_bitpack(F.col(vec_col), dim=bucket_bits, word_bits=bucket_bits)[0]
            .alias("_bkt"),
        ).withColumn("_n", l2_norm(F.col("_v")))

    c_all = prep(corpus)
    c = cap_bucket_size(c_all, ["_bkt"], max_bucket, observation).alias("c")
    b = prep(benchmark).alias("b")
    score = F.try_divide(
        dot(F.col("c._v"), F.col("b._v")), F.col("c._n") * F.col("b._n")
    )
    flagged = (
        c.join(b, F.col("c._bkt") == F.col("b._bkt"))
        .filter(score >= threshold)
        .select(F.col("c._id").alias("_flag"))
        .distinct()
    )
    return (
        c_all.select("_id", "_bkt")
        .join(flagged, F.col("_id") == flagged["_flag"], "left_anti")
        .select(F.col("_id").alias(id_col), F.col("_bkt").alias("bucket"))
    )


def ann_recall_eval(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Recall@k of the IVF (nprobe=1) index against brute-force exact
    cosine ground truth, per query — the evaluation every ANN
    deployment runs before trusting the approximate path at corpus
    scale.

    Both rankings exclude the query vector itself and break ties by
    neighbor id, so the compared sets are deterministic; recall is the
    exact rational |ivf ∩ exact| / k emitted as a double.

    Scale shape: the query set is eval-sized (broadcast twice — once
    against the corpus for ground truth, once against its probe
    clusters); the corpus streams ONCE through the exact pass and once
    through the assignment pass (both broadcast joins, no corpus
    shuffle besides the per-(query, neighbor) rank windows, whose
    input is k-prunable by WindowGroupLimit). At production scale
    ground truth runs over a fixed eval sample, never the full corpus.
    """
    from pyspark.sql import Window

    from ..sources.tables import spread

    exact = knn_join(queries, embeddings, k=k, id_col=id_col, vec_col=vec_col)

    assigned = _with_double_vec(
        ivf_assign(spread(embeddings), centroids, id_col, vec_col, centroid_id_col).select(
            F.col(id_col).alias("_nid"), F.col("centroid_id").alias("_cid"), vec_col
        ),
        vec_col,
    )
    probes = F.broadcast(
        _with_double_vec(
            ivf_assign(queries, centroids, id_col, vec_col, centroid_id_col), vec_col
        ).select(
            F.col(id_col).alias("query_id"),
            F.col("centroid_id").alias("_probe"),
            F.col(vec_col).alias("_qv"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("_nid")
    )
    ivf = (
        assigned.join(probes, F.col("_cid") == F.col("_probe"))
        .filter(F.col("_nid") != F.col("query_id"))
        .select(
            "query_id",
            "_nid",
            cosine(F.col(vec_col), F.col("_qv")).alias("score"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", F.col("_nid").alias("neighbor_id"))
    )
    hits = exact.select("query_id", "neighbor_id").join(
        ivf, ["query_id", "neighbor_id"], "left_semi"
    )
    per_q = (
        exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
        .join(ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ivf")), "query_id", "left")
        .join(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")), "query_id", "left")
    )
    return per_q.select(
        "query_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce("n_ivf", F.lit(0)).cast("bigint").alias("n_ivf"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)).cast("double") / k).alias("recall"),
    )
