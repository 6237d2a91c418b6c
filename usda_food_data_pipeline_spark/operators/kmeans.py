"""K-means (Lloyd's algorithm) over embedding columns, exact-arithmetic.

The iterative-algorithm pattern this repo uses everywhere state is
small (pagerank's dyadic grid, IVF's centroid ranking): per iteration
ONE distributed aggregation job over the points, whose k×(dim+1)-row
result is collected and folded back into the next round's plan as
literals — lineage stays flat, nothing corpus-sized persists, and the
only exchange per round is the k-group partial aggregate (map-side
combined, k·dim fixed-width rows).

Cross-engine exactness (the oracle-gate contract) is the hard part:
float centroid means diverge between engines at the ULP level, and a
ULP decides an argmin tie.  Everything here is INTEGER:

- inputs quantize scan-locally to ``floor(x·1024) + 1024`` — floor of
  an exact float32→double product by a power of two, identical
  everywhere, and the +1024 shift keeps every later division operand
  non-negative (truncating vs flooring integer division agree);
- centroids live on a 1/10³ grid: ``c = (2·S·Q + n) DIV (2·n)`` is
  round-half-up rational→grid rounding in pure integer ops;
- distances are sums of squared int64 differences — on the 1/10³
  grid every quantity fits comfortably (|diff| ≤ 2048·10³, diff² ≤
  4.2e12, the 64-dim sum ≤ 2.7e14, the argmin key ≤ 2.2e15);
- argmin folds the tie rule into one monotone key ``D·k + cluster``
  (the winnowing encoding): min over exact integers, ties to the
  lowest cluster id.

The assignment step is an Arrow-batched pandas UDF over numpy int64 —
the one dense-linear-algebra spot in the repo where the relational
form loses: spelling k×dim explicit square terms per centroid builds
~5,000-node expression trees that Catalyst re-analyzes and codegen
recompiles EVERY iteration (fresh centroid literals defeat the codegen
cache; measured ~3.5 s/job at dim 64, k 8 — pure driver/compile cost,
independent of row count), while numpy does the same exact integer
arithmetic in microseconds per batch.  The UDF emits one int64 key
column; cluster id and distance decode relationally.

Overflow headroom: the update's ``2·S·Q`` bounds cluster sizes at
~2.2e12 points before bigint overflow — beyond that a production run
would switch the means to doubles and forfeit oracle-exactness, not
correctness.  (A first cut kept a 1/10⁶ grid with decimal(38,0)
accumulators; the growing-precision decimal chains planned and ran
~100× slower than this all-bigint form for no semantic gain.)

Reference analog: none (the reference pipeline has no clustering);
extends SURVEY.md §2's vector family per the LLM-pipeline mandate.
It pays a tiny per-round collect for oracle-exact integer arithmetic,
making the full iterative algorithm hash-checkable against DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import own

SCALE = 1024      # input quantization: floor(x * SCALE) + SHIFT
SHIFT = 1024
GRID = 10**3      # centroid coordinates are integers on a 1/GRID grid


def _quantized(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    q = F.transform(
        F.col(vec_col),
        lambda x: (F.floor(x.cast("double") * SCALE) + SHIFT).cast("long"),
    )
    return emb.select(F.col(id_col), q.alias("xq"))


def _assign(pts: DataFrame, cents: list[list[int]], dim: int) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    k = len(cents)
    c_arr = np.asarray(cents, dtype=np.int64)  # (k, dim), grid units

    @pandas_udf("long")
    def argmin_key(xq: pd.Series) -> pd.Series:
        x = np.stack(xq.to_numpy()).astype(np.int64) * GRID  # (b, dim)
        # (b, k) exact int64 squared distances
        dd = ((x[:, None, :] - c_arr[None, :, :]) ** 2).sum(axis=2)
        return pd.Series((dd * k + np.arange(k, dtype=np.int64)).min(axis=1))

    keyed = pts.withColumn("_key", argmin_key("xq"))
    return keyed.select(
        "*",
        (F.col("_key") % k).cast("int").alias("cluster"),
        F.expr(f"_key DIV {k}").alias("d2"),
    )


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """Run ``n_iter`` Lloyd rounds from the ``k`` lowest-id points and
    return the final assignment: ``id_col, cluster (int), d2`` (exact
    squared grid distance, bigint).  Empty clusters keep their previous
    centroid.  Every iteration is one job: Arrow-batched assignment
    against the iteration's centroid constants, then a k-group
    aggregate whose exchange carries k·(dim+1) fixed-width rows (the
    measured-fastest round shape — see :func:`_train_cents`).

    The embedding width is derived from the seed vectors themselves
    (ADVICE r06, low: an independent ``dim`` parameter silently
    truncated wider embeddings to its default for one round and then
    crashed on the numpy shape mismatch in the next assignment).

    The quantized point table feeds the seed collect, every training
    round, and the final assignment — persist it for the life of the
    query run (r12 opt, the ivf_adc_topk pattern).
    """
    pts = own(_quantized(emb, id_col, vec_col))
    cents, dim = _train_cents(pts, id_col, k, n_iter)
    return _assign(pts, cents, dim).select(id_col, "cluster", "d2")


def _train_cents(
    pts: DataFrame, id_col: str, k: int, n_iter: int
) -> tuple[list[list[int]], int]:
    """``n_iter`` Lloyd rounds over a quantized point set (``xq``
    column); returns the final grid-integer centroids and the width.
    Seeds are the ``k`` lowest-id points; empty clusters keep their
    previous centroid.

    Round shape — MEASURED, kept (r12 opt): the r11 ledger hypothesized
    the mapInPandas-partials form (``_train_books_joint`` with one
    full-width book) would beat this pandas_udf-argmin + JVM-aggregate
    form by halving boundary crossings.  The alternating same-session
    A/B REJECTED it: partials ran 1.18× slower at sf0.1 (quiet-host
    min-of-8) and 1.32× at sf1.  The payload crosses the Python
    boundary ONCE in both shapes (the udf receives xq and returns one
    long; the JVM retains xq for the aggregate) — the partials form
    merely trades codegen'd element_at sums for per-batch pandas
    DataFrame construction plus a (dim+3)-column Arrow return, and
    loses.  Arithmetic equality of whichever shape ships is pinned by
    tests/test_opt_r12.py against a pure-numpy Lloyd reference."""
    seeds = sorted(
        pts.orderBy(id_col).limit(k).collect(), key=lambda r: r[id_col]
    )
    if not seeds:
        raise ValueError("kmeans: input has no vectors")
    dim = len(seeds[0]["xq"])
    cents = [[int(v) * GRID for v in r["xq"]] for r in seeds]

    sum_aggs = [
        F.sum(F.element_at("xq", d + 1)).alias(f"_s{d}") for d in range(dim)
    ]
    for _ in range(n_iter):
        stats = (
            _assign(pts, cents, dim)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_n"), *sum_aggs)
            .collect()
        )
        by_cl = {r["cluster"]: r for r in stats}
        for ci in range(len(cents)):
            r = by_cl.get(ci)
            if r is None:
                continue  # empty cluster: centroid carries over
            n = int(r["_n"])
            cents[ci] = [
                (2 * int(r[f"_s{d}"]) * GRID + n) // (2 * n) for d in range(dim)
            ]
    return cents, dim


def _fixed_width(emb: DataFrame, vec_col: str, op: str) -> int:
    """Vector width with a ragged-input fail-fast (ADVICE r09, low): a
    width taken from an arbitrary first row silently diverges from an
    oracle that uses max(len(embedding)) whenever the corpus is ragged.
    One min/max(size) aggregate over the single array column — the
    assert costs a slim scan and turns silent divergence into a raise."""
    r = emb.agg(
        F.min(F.size(vec_col)).alias("lo"), F.max(F.size(vec_col)).alias("hi")
    ).first()
    if r is None or r["lo"] is None:
        raise ValueError(f"{op}: input has no vectors")
    if int(r["lo"]) != int(r["hi"]):
        raise ValueError(
            f"{op}: ragged vector widths {int(r['lo'])}..{int(r['hi'])} "
            "(PQ subspace slicing requires a fixed width)"
        )
    return int(r["hi"])


def _train_books_joint(
    pts: DataFrame,
    id_col: str,
    books_spec: list[tuple[int, int, int | None]],
    n_iter: int,
) -> list[list[list[int]]]:
    """Train SEVERAL independent Lloyd codebooks in the same per-round
    jobs: ``books_spec`` is ``[(dim offset, k_i, w_i), ...]`` — e.g.
    IVFADC's one coarse full-width book plus m PQ subspace books.
    ``w_i = None`` means "the rest of the vector from the offset" —
    resolved from the seed rows, so a plain-kmeans caller
    (:func:`_train_cents`) need not pre-derive the width with an extra
    job.

    Training the books separately (the pre-r11-opt ivf_adc_topk shape:
    one call for the coarse book, one for the m subspace books) runs
    2·n_iter scan+collect round jobs and two seed collects; the books
    are mutually independent, so one round job can carry all of them —
    n_iter rounds and one seed collect total, halving the job count of
    every IVFADC-family query.  Per-book arithmetic does not depend on
    which other books train alongside (same lowest-id seeds — book i
    takes the first k_i of one max(k_i)-row collect, same first-minimum
    argmin tie rule, same round-half-up integer centroid update, empty
    clusters carry over); tests pin codebook equality against separate
    training and against a pure-numpy Lloyd reference.

    The round stats fold map-side inside the Arrow batches (mapInPandas
    partials, then one tiny grouped aggregate); a posexplode form that
    copies each row once per book measured ~2x slower at sf1/sf3.
    Stats rows are padded to the widest book.
    """
    k_max = max(k for _, k, _ in books_spec)
    seeds = sorted(
        pts.orderBy(id_col).limit(k_max).collect(), key=lambda r: r[id_col]
    )
    if not seeds:
        raise ValueError("kmeans: input has no vectors")
    dim = len(seeds[0]["xq"])
    books_spec = [
        (off, k, (dim - off) if w is None else w) for off, k, w in books_spec
    ]
    w_max = max(w for _, _, w in books_spec)
    cents: list[list[list[int]]] = [
        [[int(v) * GRID for v in r["xq"][off : off + w]] for r in seeds[:k]]
        for off, k, w in books_spec
    ]
    specs = [(off, len(cents[i]), w) for i, (off, _k, w) in enumerate(books_spec)]
    stats_schema = "_b int, _cl int, _n long, " + ", ".join(
        f"_s{d} long" for d in range(w_max)
    )

    for _ in range(n_iter):
        c_now = [np.asarray(cb, dtype=np.int64) for cb in cents]

        def batch_stats(batches, _c=c_now, _specs=specs, _wm=w_max):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
                xg = x * GRID
                rows = []
                for bi, (off, kk, ww) in enumerate(_specs):
                    sub = xg[:, off : off + ww]
                    dd = ((sub[:, None, :] - _c[bi][None]) ** 2).sum(axis=2)
                    # np.argmin takes the FIRST minimum — ties to the
                    # lowest cluster id, the _assign rule
                    cl = dd.argmin(axis=1)
                    n_by = np.bincount(cl, minlength=kk)
                    sums = np.zeros((kk, ww), dtype=np.int64)
                    np.add.at(sums, cl, x[:, off : off + ww])
                    pad = [0] * (_wm - ww)
                    for ci in np.nonzero(n_by)[0]:
                        rows.append(
                            (bi, int(ci), int(n_by[ci]), *map(int, sums[ci]), *pad)
                        )
                yield pd.DataFrame(
                    rows,
                    columns=["_b", "_cl", "_n"] + [f"_s{d}" for d in range(_wm)],
                )

        stats = (
            pts.mapInPandas(batch_stats, stats_schema)
            .groupBy("_b", "_cl")
            .agg(
                F.sum("_n").alias("_n"),
                *[F.sum(f"_s{d}").alias(f"_s{d}") for d in range(w_max)],
            )
            .collect()
        )
        by = {(int(r["_b"]), int(r["_cl"])): r for r in stats}
        for bi, (_off, kk, ww) in enumerate(specs):
            for ci in range(kk):
                r = by.get((bi, ci))
                if r is None:
                    continue  # empty cluster: centroid carries over
                n = int(r["_n"])
                cents[bi][ci] = [
                    (2 * int(r[f"_s{d}"]) * GRID + n) // (2 * n)
                    for d in range(ww)
                ]
    return cents


def _pq_code_cols(m: int, k_eff: int, first: int) -> list:
    """``code_0..code_{m-1}`` from the ``_keys`` argmin keys starting at
    1-based position ``first``."""
    return [
        (F.element_at("_keys", first + j) % k_eff).cast("int").alias(f"code_{j}")
        for j in range(m)
    ]


def _pq_trained(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    lead: list[tuple[int, int, int | None]],
    m: int,
    k: int,
    n_iter: int,
    op: str,
) -> tuple[DataFrame, DataFrame, list[list[list[int]]], int]:
    """The PQ build every compressed-domain operator starts from: check
    that the fixed vector width splits into ``m`` subspaces, persist the
    quantized points for the life of the query run (they feed the seed
    collect, every training round, the query-row collect and the final
    assignment), train the ``lead`` books and then ``m`` subspace books
    of ``k`` centroids in the SAME per-round jobs
    (:func:`_train_books_joint`), and assign every point to all of them
    in one projection (:func:`_assign_books`).

    Returns ``(points, points with _keys, books, subspace width)``."""
    dim = _fixed_width(emb, vec_col, op)
    if dim % m != 0:
        raise ValueError(f"{op}: dim {dim} not divisible by m={m}")
    w = dim // m
    pts = own(_quantized(emb, id_col, vec_col))
    spec = lead + [(j * w, k, w) for j in range(m)]
    books = _train_books_joint(pts, id_col, spec, n_iter)
    assigned = _assign_books(pts, [(off, b) for (off, _, _), b in zip(spec, books)])
    return pts, assigned, books, w


def _query_rows(pts: DataFrame, id_col: str, n_queries: int, op: str) -> list:
    """The quantized rows of query ids ``0..n_queries-1``, in id order.
    The query vectors ARE corpus rows; their exact ``xq`` is collected
    once (n_queries x dim ints), never re-derived from floats. Fewer
    rows than ``n_queries`` raises instead of silently scoring a
    smaller query set than the oracle."""
    qrows = pts.filter(F.col(id_col) < n_queries).collect()
    if len(qrows) < n_queries:
        raise ValueError(
            f"{op}: only {len(qrows)} rows with {id_col} < "
            f"{n_queries}; query ids 0..n_queries-1 must all exist"
        )
    return sorted(qrows, key=lambda r: int(r[id_col]))


def _lut(xq, fine: list[list[list[int]]], w: int) -> list[list[int]]:
    """One query's ADC lookup tables: per subspace j, the exact squared
    grid distance from its j-th subvector to each centroid of book j,
    folded in Python integer arithmetic."""
    return [
        [
            sum(
                (int(x) * GRID - c) ** 2
                for x, c in zip(xq[j * w : (j + 1) * w], cent, strict=True)
            )
            for cent in book
        ]
        for j, book in enumerate(fine)
    ]


def _adc_topk(
    codes: DataFrame,
    id_col: str,
    m: int,
    top_k: int,
    lut_rows: list[tuple],
    head_schema: list[str],
    keep: Column,
) -> DataFrame:
    """Score ``codes`` against a broadcast of the query LUT rows (the
    ``head_schema`` columns, then m ``_lut{j}`` arrays) and keep each
    query's ``top_k`` by (ADC distance, neighbor id). ``keep`` is the
    caller's candidate condition over the crossed row; the query itself
    is always excluded.

    Output: ``(query_id, neighbor_id, adc_d2 bigint, rank int)``."""
    lut_schema = ", ".join(head_schema + [f"_lut{j} array<long>" for j in range(m)])
    luts = F.broadcast(codes.sparkSession.createDataFrame(lut_rows, lut_schema))
    adc = None
    for j in range(m):
        term = F.element_at(f"_lut{j}", F.col(f"code_{j}") + 1)
        adc = term if adc is None else adc + term
    scored = (
        codes.crossJoin(luts)
        .filter(keep & (F.col(id_col) != F.col("query_id")))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adc.cast("bigint").alias("adc_d2"),
        )
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _exact_d2(pts: DataFrame, id_col: str, n_queries: int) -> tuple[DataFrame, Column]:
    """Broadcast ``(query_id, _qx)`` query vectors and the exact int64
    ``sum((_qx - xq)^2)`` fold against a row's ``xq`` — zip_with over
    lambda args only, no captured expressions."""
    qpts = pts.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("xq").alias("_qx")
    )
    d2 = F.aggregate(
        F.zip_with("_qx", "xq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.broadcast(qpts), d2


def pq_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into ``m``
    subspaces, train an exact-integer Lloyd codebook of ``k`` centroids
    per subspace (same grid arithmetic and lowest-id seeding as
    :func:`kmeans_assign`), and emit each vector's code word per
    subspace plus its total exact squared-grid distortion.

    The PQ code table is what an IVF-PQ index stores instead of raw
    vectors (m*log2(k) bits per vector vs 4*dim bytes) — the standard
    memory-bound ANN structure at billion-vector scale.  Everything
    stays oracle-exact: per-subspace distances and the distortion sum
    are int64 on the 1/10^3 grid, so the SQL twin agrees bit for bit.

    Scale shape (r09 verdict task 3): ALL m codebooks train together —
    per Lloyd round ONE Arrow-batched all-subspace assignment feeding
    ONE (subspace, cluster)-grouped aggregate (exchange: m*k*(w+1)
    fixed-width rows), n_iter jobs total; the final codes come from
    ONE projection over the quantized scan — the former m-way id-keyed
    join chain (m slim shuffles) is gone.  No stage touches the vector
    payload more than once per round.

    Output: ``(id_col, code_0..code_{m-1} int, d2 bigint)``.
    """
    _pts, assigned, books, _w = _pq_trained(
        emb, id_col, vec_col, [], m, k, n_iter, "pq_quantize"
    )
    k_eff = len(books[0])
    d2 = None
    for j in range(m):
        dj = F.expr(f"element_at(_keys, {j + 1}) DIV {k_eff}")
        d2 = dj if d2 is None else d2 + dj
    return assigned.select(
        F.col(id_col),
        *_pq_code_cols(m, k_eff, 1),
        d2.cast("bigint").alias("d2"),
    )


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 16,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """Asymmetric-distance PQ search (Jégou et al. 2011 §IV.A "ADC"):
    score every corpus vector against each query using only its PQ
    code — per query, an m*k lookup table of exact squared grid
    distances from the query subvector to each codebook centroid; a
    vector's distance is the sum of m table lookups — then take the
    ``top_k`` nearest per query (ties to the lower id).  This is the
    scoring path a billion-vector index runs over compressed codes
    instead of raw floats; at production scale an IVF probe filter
    (operators/similarity.ivf_topk) prunes the scored partition first.

    Everything is oracle-exact: codebooks come from the same
    exact-integer Lloyd as :func:`pq_quantize`, the LUTs are integer
    sums over the SAME quantized values the corpus side used
    (:func:`_query_rows`), and the ADC score is an int64 sum of m
    lookups.  Ragged widths and id gaps fail fast (ADVICE r09):
    :func:`_fixed_width` asserts min(size)==max(size), and fewer than
    ``n_queries`` rows with id < n_queries raises.

    Scale shape (r09 verdict task 3): one combined codebook training
    (n_iter jobs, see :func:`_train_books_joint`), the code table from
    ONE projection over the quantized scan, then ONE scan of the m-code
    table against a broadcast of n_queries LUT rows (n_queries*m*k
    ints); the per-query rank is a WindowGroupLimit top-k, so the
    exchange carries at most (partitions x top_k) candidate rows per
    query — never the corpus.

    Not ``ivf_adc_topk(kc=1, nprobe=1)``: that returns the same rows,
    but the joint trainer pads every book's stats row to the widest
    (full-width coarse) book, and measured slower at sf0.1.

    Output: ``(query_id, neighbor_id, adc_d2 bigint, rank int)``.
    """
    op = "pq_adc_topk"
    pts, assigned, books, w = _pq_trained(emb, id_col, vec_col, [], m, k, n_iter, op)
    codes = assigned.select(F.col(id_col), *_pq_code_cols(m, len(books[0]), 1))
    lut_rows = [
        (int(r[id_col]), *_lut(r["xq"], books, w))
        for r in _query_rows(pts, id_col, n_queries, op)
    ]
    return _adc_topk(
        codes, id_col, m, top_k, lut_rows, ["query_id long"], F.lit(True)
    )


def _assign_books(pts: DataFrame, books: list[tuple[int, "np.ndarray"]]) -> DataFrame:
    """Heterogeneous multi-codebook assignment in ONE Arrow-batched
    projection: ``books`` is a list of (dim offset, (k_i, w_i) grid
    codebook) pairs — e.g. one coarse full-width quantizer plus m PQ
    subspace codebooks — and the output column ``_keys[i]`` carries the
    winnowing-encoded argmin ``d2_i * k_i + cluster_i`` for book i.
    :func:`pq_quantize` passes its m uniform subspace books; an IVF-PQ
    index passes its coarse book too, deriving its coarse cell AND its
    fine codes from one scan of the vector payload instead of an
    id-keyed join of two projections."""
    from pyspark.sql.functions import pandas_udf

    metas = [(off, np.asarray(cb, dtype=np.int64)) for off, cb in books]

    @pandas_udf("array<long>")
    def keys(xq: pd.Series) -> pd.Series:
        x = np.stack(xq.to_numpy()).astype(np.int64) * GRID
        cols = []
        for off, cb in metas:
            kk, ww = cb.shape
            sub = x[:, off : off + ww]
            dd = ((sub[:, None, :] - cb[None]) ** 2).sum(axis=2)
            cols.append(
                (dd * kk + np.arange(kk, dtype=np.int64)[None, :]).min(axis=1)
            )
        return pd.Series(list(np.stack(cols, axis=1)))

    return pts.withColumn("_keys", keys("xq"))


def ivf_adc_topk(
    emb: DataFrame,
    n_queries: int = 16,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kc: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-ADC search (Jégou et al. 2011 §V, "IVFADC"): the standard
    billion-vector index READ path — a coarse quantizer of ``kc``
    full-width centroids prunes the corpus to the query's ``nprobe``
    nearest cells (nprobe=1 is :func:`..operators.similarity.ivf_topk`'s
    probe discipline; multiprobe is the standard recall knob — at
    nprobe=kc the candidate set is the whole corpus and the result
    equals :func:`pq_adc_topk` exactly, the equivalence the tests pin),
    then the survivors are scored in the compressed domain by the
    asymmetric-distance LUT sum over their PQ codes.  At production
    scale the code table is partitioned by cell, so the probe is a
    partition-pruned scan of ~nprobe/kc of the codes and the score
    never touches raw vectors.

    Everything is oracle-exact: both quantizers are the exact-integer
    Lloyd via :func:`_train_books_joint` (the coarse book is the
    full-width special case), cells and codes come from ONE
    heterogeneous assignment projection (:func:`_assign_books` — no
    id-keyed join between the coarse and fine assignments), the
    per-query cell is derived in
    Python from the SAME collected ``xq`` ints that built the LUTs,
    and the ADC score is an int64 sum of m lookups.

    Output: ``(query_id, neighbor_id, adc_d2 bigint, rank int)`` —
    ranks are within the query's probed cells (ANN semantics: a true
    neighbor in an unprobed cell is missed, exactly the recall
    :func:`adc_recall_eval` measures).
    """
    op = "ivf_adc_topk"
    if not 1 <= nprobe <= kc:
        raise ValueError(f"{op}: nprobe {nprobe} outside 1..kc={kc}")
    # the coarse book spans the full width (None = to the vector's end)
    pts, assigned, books, w = _pq_trained(
        emb, id_col, vec_col, [(0, kc, None)], m, k, n_iter, op
    )
    coarse, fine = books[0], books[1:]
    kc_eff = len(coarse)
    codes = assigned.select(
        F.col(id_col),
        (F.element_at("_keys", 1) % kc_eff).cast("int").alias("_cell"),
        *_pq_code_cols(m, len(fine[0]), 2),
    )

    c_arr = np.asarray(coarse, dtype=np.int64)

    def _qcells(xq) -> list[int]:
        x = np.asarray(xq, dtype=np.int64) * GRID
        dd = ((x[None, :] - c_arr) ** 2).sum(axis=1)
        # same winnowing key encoding as the executors: sorting the
        # dd*kc + cell keys ranks by (distance, cell id) — the top
        # nprobe cells with the exact argmin tie rule
        keys = np.sort(dd * kc_eff + np.arange(kc_eff, dtype=np.int64))
        return [int(v % kc_eff) for v in keys[:nprobe]]

    lut_rows = [
        (int(r[id_col]), _qcells(r["xq"]), *_lut(r["xq"], fine, w))
        for r in _query_rows(pts, id_col, n_queries, op)
    ]
    return _adc_topk(
        codes,
        id_col,
        m,
        top_k,
        lut_rows,
        ["query_id long", "_qcells array<int>"],
        F.array_contains("_qcells", F.col("_cell")),
    )


def adc_recall_eval(
    emb: DataFrame,
    n_queries: int = 16,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kc: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    nprobe: int = 1,
) -> DataFrame:
    """Recall@k of the IVFADC path against exact brute force — the
    measurement every compressed-domain ANN deployment ships with
    (companion to ``similarity.ann_recall_eval``, which evaluates the
    IVF prune alone; this adds the PQ quantization loss).

    Ground truth is the exact integer squared distance between
    quantized vectors (``sum((xq_q - xq_x)^2)`` — the same metric
    family ADC approximates, so the recall number isolates
    cell-pruning + code-compression loss, not metric mismatch), ranked
    with the same (distance, neighbor_id) tie rule as the ANN side.

    Scale shape: the ANN side is :func:`ivf_adc_topk`; the truth side
    is one corpus scan against a BROADCAST of n_queries quantized
    vectors, folded by zip_with (lambda args only — no captured
    expressions) into an int64 per pair, then a WindowGroupLimit
    top-k; the recall join is (n_queries x top_k) rows against the
    same-sized ANN output.

    Output: ``(query_id, n_true bigint, n_hits bigint)`` — integer
    hits, not a float recall, so the oracle compares exactly.
    """
    ann = ivf_adc_topk(
        emb, n_queries, top_k, id_col, vec_col, kc, m, k, n_iter, nprobe
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))

    pts = _quantized(emb, id_col, vec_col)
    qpts, d2 = _exact_d2(pts, id_col, n_queries)
    truth = (
        pts.crossJoin(qpts)
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), d2.alias("_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d2"), F.col("neighbor_id"))
    truth_k = (
        truth.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("query_id", "neighbor_id")
    )
    return (
        truth_k.join(ann, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_hit").alias("n_hits"),
        )
    )


def adc_rerank_topk(
    emb: DataFrame,
    n_queries: int = 16,
    top_k: int = 10,
    rerank_k: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kc: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    nprobe: int = 1,
) -> DataFrame:
    """Two-stage IVFADC read (Jégou et al. 2011 §VII "re-ranking"):
    stage 1 retrieves a WIDER compressed-domain pool — the
    ``rerank_k`` best ADC candidates per query via
    :func:`ivf_adc_topk` — and stage 2 rescores only that pool with
    the exact integer distance over the original quantized vectors,
    emitting the ``top_k`` by exact distance.  This is the standard
    production pattern: the index never stores raw vectors with the
    codes; the small candidate pool pays one random-access fetch of
    its true vectors (here: a semi-join-sized equi-join back to the
    quantized scan) and compression error cancels exactly where it
    matters — the final ranking.

    Everything is oracle-exact: the pool is the deterministic
    :func:`ivf_adc_topk` output and the rescoring is the same int64
    ``sum((xq_q - xq_x)^2)`` fold :func:`adc_recall_eval`'s truth side
    uses, with the same (distance, neighbor_id) tie rule.

    Scale shape: stage 1 is ivf_adc_topk (broadcast LUTs, cell-pruned
    scan, WindowGroupLimit); stage 2 joins the (n_queries x rerank_k)
    pool — never the corpus — against the quantized scan on the
    neighbor id, broadcasts the n_queries query vectors, folds the
    exact distance with zip_with, and takes a WindowGroupLimit top-k
    over (n_queries x rerank_k) rows.

    Output: ``(query_id, neighbor_id, exact_d2 bigint, rank int)``.
    """
    if rerank_k < top_k:
        raise ValueError(
            f"adc_rerank_topk: rerank_k {rerank_k} < top_k {top_k}"
        )
    pool = ivf_adc_topk(
        emb, n_queries, rerank_k, id_col, vec_col, kc, m, k, n_iter, nprobe
    ).select("query_id", "neighbor_id")

    pts = _quantized(emb, id_col, vec_col)
    qpts, d2 = _exact_d2(pts, id_col, n_queries)
    rescored = (
        pool.join(pts, pool.neighbor_id == pts[id_col])
        .join(qpts, "query_id")
        .select("query_id", "neighbor_id", d2.alias("exact_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_d2"), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("exact_d2").cast("bigint").alias("exact_d2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
