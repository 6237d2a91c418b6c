"""Data-selection & layout extensions: Pareto-frontier curation,
greedy max-coverage selection, compaction planning, class-balance
reweighting, LSH-bounded Jaccard kNN graphs, and robust/recursive
per-user statistics (trailing EMA, MAD outliers).

Registry contract (same as registry_curation): Spark plan and DuckDB
oracle are generated from the SAME constants, every ratio is integer
(ppm / cents with floor semantics on non-negative domains where
truncating and flooring division agree on both engines), and the only
floats emitted are single IEEE divisions of exact integers (the
attested dedup_minhash_lsh convention).

Scale notes (100 TB posture) are on each operator: model/selection
state is bounded and broadcast, corpus text never shuffles past its
first projection, and the one driver-side loop (greedy coverage)
collects exactly one (id, gain) row per round — centroid-class state,
like kmeans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import minhash_lsh_pairs, tokenize, word_shingles
from .registry import register
from .registry_text import (
    TOKS_SQL,
    _BANDS,
    _MH_THRESHOLD,
    _NUM_HASHES,
    _SHINGLE_N,
    minhash_pairs_ctes,
    shingles_sql,
)
from .session import own
from .sources.tables import load_table
from .sources.tables import spread as _spread

# ---------------------------------------------------------------------------
# Pareto-frontier document selection (skyline over two quality axes)
# ---------------------------------------------------------------------------

PARETO_ORACLE = f"""
WITH pts AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS m1,
           CAST(len(list_distinct({TOKS_SQL})) AS BIGINT) AS m2
    FROM documents
),
lv AS (SELECT m1, max(m2) AS grp_max FROM pts GROUP BY m1),
cm AS (
    SELECT m1, grp_max,
           max(grp_max) OVER (ORDER BY m1 DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better_max
    FROM lv
)
SELECT p.doc_id AS doc_id, p.m1 AS n_chars, p.m2 AS n_distinct_tokens
FROM pts p JOIN cm c ON p.m1 = c.m1
WHERE (c.better_max IS NULL OR c.better_max < p.m2) AND c.grp_max = p.m2
"""


@register(
    "pareto_frontier",
    PARETO_ORACLE,
    "Pareto-frontier (skyline) docs maximizing (n_chars, distinct tokens)",
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-metric curation skyline: keep the documents no other
    document dominates on BOTH axes (length, lexical diversity) — the
    standard way to trade off two quality signals without inventing a
    weighted score. A doc is dominated iff some doc is >= on both
    metrics and > on at least one; ties on both axes keep both docs.

    NOT the naive all-pairs NOT EXISTS (O(n^2) — unusable at corpus
    scale): group to one row per distinct m1 level (bounded by the
    value domain, not the corpus), take the level's max m2, and a
    running max over strictly-greater levels; a doc survives iff no
    better-m1 level reaches its m2 (case m1'>m1) and it attains its
    own level's max (case m1'=m1, m2'>m2). One small agg + a window
    over the TINY level table (broadcast back) — corpus rows stream
    through a single map-side join.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    pts = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("m1"),
        F.size(F.array_distinct(tokenize(F.col("text")))).cast("bigint").alias("m2"),
    )
    lv = pts.groupBy("m1").agg(F.max("m2").alias("grp_max"))
    w = Window.orderBy(F.desc("m1")).rowsBetween(Window.unboundedPreceding, -1)
    cm = lv.select("m1", "grp_max", F.max("grp_max").over(w).alias("better_max"))
    return (
        pts.join(F.broadcast(cm), "m1")
        .filter(
            (F.col("better_max").isNull() | (F.col("better_max") < F.col("m2")))
            & (F.col("grp_max") == F.col("m2"))
        )
        .select(
            "doc_id",
            F.col("m1").alias("n_chars"),
            F.col("m2").alias("n_distinct_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage selection (submodular data subset selection)
# ---------------------------------------------------------------------------

_COV_ROUNDS = 4


def _coverage_oracle(k: int) -> str:
    # AS MATERIALIZED on every round table: each exN / pickN is referenced
    # more than once by the next round, and inlined CTEs would re-derive
    # the whole chain per reference (2^k blowup — observed minutes at sf1
    # vs milliseconds materialized)
    parts = [
        f"ex0 AS MATERIALIZED (SELECT doc_id, unnest(list_distinct({shingles_sql(TOKS_SQL, _SHINGLE_N)})) AS t FROM documents)"
    ]
    picks = []
    for i in range(1, k + 1):
        prev = i - 1
        parts.append(
            f"pick{i} AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain "
            f"FROM ex{prev} GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"ex{i} AS MATERIALIZED (SELECT e.doc_id, e.t FROM ex{prev} e "
                f"WHERE e.doc_id NOT IN (SELECT doc_id FROM pick{i}) "
                f"AND e.t NOT IN (SELECT t FROM ex{prev} "
                f"WHERE doc_id IN (SELECT doc_id FROM pick{i})))"
            )
        picks.append(f"SELECT {i} AS sel_round, doc_id, gain FROM pick{i}")
    union = "\nUNION ALL\n".join(picks)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
sel AS ({union})
SELECT CAST(sel_round AS BIGINT) AS sel_round, doc_id, gain AS marginal_gain,
       CAST(sum(gain) OVER (ORDER BY sel_round) AS BIGINT) AS covered_total
FROM sel
"""
    )


@register(
    "coverage_greedy_select",
    _coverage_oracle(_COV_ROUNDS),
    f"greedy max-coverage selection: {_COV_ROUNDS} rounds of argmax marginal shingle-coverage gain",
)
def q_coverage_greedy_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Submodular data-subset selection: pick documents one at a time,
    each round taking the doc that covers the most NOT-YET-COVERED
    word trigram shingles (ties to the smaller doc_id) — the classic greedy
    (1 - 1/e)-approximation to max coverage, the shape tokenizer- and
    eval-set-construction pipelines use to pick a small corpus slice
    with maximal token coverage.

    Distribution: the (doc, token) incidence table is computed ONCE and
    persisted; each round is one shuffle agg (gain per doc) + a global
    top-1. The driver collects exactly one (doc_id, gain) row per round
    — bounded model state, kmeans-centroid class, never corpus data.
    The covered-token set (union of <= K docs' tokens) is re-derived
    lazily from the cached incidence table and BROADCAST into an
    anti-join, so corpus rows never shuffle for coverage bookkeeping.
    At 100 TB the exact per-round argmax stays one map-side-combined
    agg over ids+counts; the lazy-greedy / stochastic-greedy variants
    drop rounds, not the data layout.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    ex0 = own(
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(tokenize(F.col("text")), _SHINGLE_N))
            ).alias("t"),
        )
    )

    rows: list[tuple[int, int, int]] = []
    sel_ids: list[int] = []
    for i in range(1, _COV_ROUNDS + 1):
        ex = ex0
        if sel_ids:
            covered = (
                ex0.filter(F.col("doc_id").isin(sel_ids)).select("t").distinct()
            )
            ex = ex.filter(~F.col("doc_id").isin(sel_ids)).join(
                F.broadcast(covered), "t", "left_anti"
            )
        top = (
            ex.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        rows.append((i, int(top[0]["doc_id"]), int(top[0]["gain"])))
        sel_ids.append(int(top[0]["doc_id"]))

    out = spark.createDataFrame(
        rows, "sel_round bigint, doc_id bigint, marginal_gain bigint"
    )
    w = Window.orderBy("sel_round").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "sel_round",
        "doc_id",
        "marginal_gain",
        F.sum("marginal_gain").over(w).cast("bigint").alias("covered_total"),
    )


# ---------------------------------------------------------------------------
# Compaction planning (small-file bin packing in key order)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 4096  # chars per output file


COMPACTION_ORACLE = f"""
WITH c AS (
    SELECT source, doc_id, n_chars,
           COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM documents
),
f AS (SELECT source, doc_id, n_chars, cum_before // {_COMPACT_TARGET} AS file_id FROM c)
SELECT source, CAST(file_id AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM f GROUP BY source, file_id
"""


@register(
    "compaction_plan",
    COMPACTION_ORACLE,
    f"small-file compaction plan: pack docs into ~{_COMPACT_TARGET}-char files per source, key order",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic compaction planner (the OPTIMIZE-style maintenance
    pass every long-lived lakehouse table needs): within each source
    partition, walk documents in key order, accumulate sizes, and cut a
    new output file every time the running total crosses the target —
    i.e. file_id = floor(cumulative_size_before / target). First-fit in
    key order preserves clustering (range pruning on doc_id still works
    on the compacted files) and is exactly reproducible, unlike
    best-fit heuristics that depend on iteration order.

    Scale shape: one window cumsum per source partition (the same
    exchange any per-partition maintenance job pays) followed by a
    map-side-combinable agg on (source, file_id). Payload is ids +
    integers; document text is never read.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("cum_before"),
    )
    f = c.withColumn(
        "file_id", F.expr(f"cum_before div {_COMPACT_TARGET}").cast("bigint")
    )
    return f.groupBy("source", "file_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Class-balance reweighting (inverse-frequency sampling weights)
# ---------------------------------------------------------------------------

CLASS_BALANCE_ORACLE = """
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_classes FROM c)
SELECT c.lang AS lang, c.n_docs AS n_docs,
       CAST((c.n_docs * 1000000) // t.total AS BIGINT) AS share_ppm,
       CAST((t.total * 1000000) // (t.n_classes * c.n_docs) AS BIGINT) AS weight_ppm
FROM c, t
"""


@register(
    "class_balance_weights",
    CLASS_BALANCE_ORACLE,
    "inverse-frequency language rebalancing weights (ppm) over documents",
)
def q_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights — the card a mixing pipeline
    reads to upsample rare languages to a uniform target: weight(c) =
    total / (n_classes * n_c), emitted in floor ppm next to the
    observed share so the rebalancing is auditable (share * weight ~=
    1/n_classes). temperature_mix covers smooth (tau) interpolation;
    this is the exact tau->0 endpoint used for per-class loss
    weighting rather than sampling.

    Scale shape: one map-side-combined count per class, then a scalar
    totals row cross-joined (broadcast) onto the tiny class table.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_classes"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.expr("(n_docs * 1000000) div total").cast("bigint").alias("share_ppm"),
            F.expr("(total * 1000000) div (n_classes * n_docs)")
            .cast("bigint")
            .alias("weight_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Jaccard kNN graph (LSH-bounded per-doc nearest neighbors)
# ---------------------------------------------------------------------------

_KNN_K = 3


def _jaccard_knn_oracle() -> str:
    return f"""
WITH {minhash_pairs_ctes('documents')},
sym AS (
    SELECT id_a AS doc_id, id_b AS nb_id, jaccard FROM mh_pairs
    UNION ALL
    SELECT id_b AS doc_id, id_a AS nb_id, jaccard FROM mh_pairs
),
r AS (
    SELECT doc_id, nb_id, jaccard,
           row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, nb_id) AS rnk
    FROM sym
)
SELECT doc_id, nb_id, jaccard, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= {_KNN_K}
"""


@register(
    "jaccard_knn_graph",
    _jaccard_knn_oracle(),
    f"per-doc top-{_KNN_K} Jaccard neighbors among MinHash-LSH candidates",
)
def q_jaccard_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-similarity kNN graph: for each doc, its top-k exact-
    Jaccard neighbors among the MinHash-LSH candidate pairs (same
    signature/band/threshold constants as dedup_minhash_lsh, so the
    graph's recall curve is the one lsh_recall_eval measures). This is
    the text-side twin of knn_join (embedding space): near-dup cluster
    exploration, curriculum neighbors, and connected-component seeds
    all read this graph.

    Scale shape: everything heavy is inside minhash_lsh_pairs (banded
    candidate join, bucket-size guard, shingles never in the shuffle);
    the graph layer only symmetrizes the pair stream (union of two
    column renames) and takes a WindowGroupLimit top-k per doc. The
    jaccard value is one IEEE division of exact integers — the
    attested cross-engine float convention.
    """
    from .session import guard

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=_SHINGLE_N,
        jaccard_threshold=_MH_THRESHOLD,
        observation=guard("jaccard_knn_graph"),
    )
    sym = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("nb_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("doc_id"), F.col("id_a").alias("nb_id"), "jaccard"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("nb_id"))
    return (
        sym.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _KNN_K)
    )


# ---------------------------------------------------------------------------
# Trailing exponential moving average (integer IIR over a row frame)
# ---------------------------------------------------------------------------

_EMA_WINDOW = 8
_EMA_GRID = 100  # cents


EMA_ORACLE = f"""
WITH v AS (
    SELECT event_id, user_id, ts,
           CAST(floor((value * {_EMA_GRID}) + 0.5) AS BIGINT) AS vc
    FROM events
),
w AS (
    SELECT event_id, user_id,
           list(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_EMA_WINDOW - 1} PRECEDING AND CURRENT ROW) AS win
    FROM v
)
SELECT event_id, user_id,
       CAST(list_reduce(win, (a, b) -> (a + b) // 2) AS BIGINT) AS ema_cents
FROM w
"""


@register(
    "ema_trailing",
    EMA_ORACLE,
    f"per-user trailing-{_EMA_WINDOW} exponential moving average (alpha=1/2, integer cents)",
)
def q_ema_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EMA with alpha = 1/2 as an exact integer IIR: fold
    e <- floor((e + v) / 2) left-to-right over the trailing row frame,
    seeded with the frame's oldest value — the smoother that weights
    the latest point 1/2, the one before 1/4, ... (truncating the
    recursion at {_EMA_WINDOW} rows bounds state AND makes the value
    frame-exact instead of history-dependent, so backfills reproduce).
    rolling_anomaly is the linear-mean sibling; rolling_median the
    robust one; this is the recency-weighted smoother dashboards and
    rate limiters actually run. Values are non-negative cents, where
    DuckDB's truncating // and Spark's floor agree exactly.

    Scale shape: one shuffle on user_id (the shared per-user window
    exchange); frames are constant-size arrays; the fold is a
    higher-order function inside codegen, not a UDF.
    """
    events = load_table(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * _EMA_GRID + F.lit(0.5)).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EMA_WINDOW - 1), Window.currentRow)
    )
    win = F.collect_list(vc).over(w)
    ema = F.aggregate(
        F.slice(win, F.lit(2), F.size(win) - 1),
        F.element_at(win, 1),
        lambda acc, v: F.floor((acc + v) / 2).cast("bigint"),
    )
    return events.select(
        "event_id", "user_id", ema.cast("bigint").alias("ema_cents")
    )


# ---------------------------------------------------------------------------
# MAD outliers (median absolute deviation, exact integer order stats)
# ---------------------------------------------------------------------------

_MAD_GRID = 100  # cents
_MAD_K = 3  # flag |v - median| > K * MAD


def _middle_sql(arr: str) -> str:
    """Exact middle of a sorted DuckDB list: odd length takes the middle
    element, even length the floor-average of the two middle ones (the
    rolling_median convention)."""
    return (
        f"CAST(CASE WHEN len({arr}) % 2 = 1 THEN {arr}[(len({arr}) + 1) // 2] "
        f"ELSE ({arr}[len({arr}) // 2] + {arr}[len({arr}) // 2 + 1]) // 2 END AS BIGINT)"
    )


MAD_ORACLE = f"""
WITH v AS (
    SELECT event_id, user_id,
           CAST(floor((value * {_MAD_GRID}) + 0.5) AS BIGINT) AS vc
    FROM events
),
m AS (SELECT user_id, list_sort(list(vc)) AS w FROM v GROUP BY user_id),
med AS (SELECT user_id, {_middle_sql('w')} AS med_cents FROM m),
d AS (
    SELECT v.event_id, v.user_id, v.vc, med.med_cents,
           abs(v.vc - med.med_cents) AS dev
    FROM v JOIN med USING (user_id)
),
md AS (SELECT user_id, list_sort(list(dev)) AS w FROM d GROUP BY user_id),
mad AS (SELECT user_id, {_middle_sql('w')} AS mad_cents FROM md)
SELECT d.event_id AS event_id, d.user_id AS user_id,
       d.vc AS value_cents, d.med_cents AS median_cents, mad.mad_cents AS mad_cents
FROM d JOIN mad USING (user_id)
WHERE d.dev > {_MAD_K} * mad.mad_cents
"""


def _middle_col(arr):
    n = F.size(arr)
    return (
        F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise(
            F.floor(
                (
                    F.element_at(arr, (n / 2).cast("int"))
                    + F.element_at(arr, (n / 2 + 1).cast("int"))
                )
                / 2
            )
        )
        .cast("bigint")
    )


@register(
    "mad_outliers",
    MAD_ORACLE,
    f"per-user robust outliers: |value - median| > {_MAD_K} x MAD, exact integer cents",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier flags via median absolute deviation —
    the estimator with a 50% breakdown point, vs rolling_anomaly's
    mean/std whose own baseline an outlier can saturate. Two exact
    order statistics per user (median of values, then median of
    absolute deviations), both as sorted-array middles with the
    rolling_median even-length floor-average convention; a row is
    flagged when dev > {_MAD_K} * MAD (integer compare; MAD = 0
    degenerates to "any deviation flags", identically on both
    engines).

    Scale shape: two groupBy-collect aggs keyed by user_id (per-user
    history is the bounded unit every per-user query holds — same
    contract as sessionize/funnel), each followed by a join of the
    small per-user stat table back onto the event stream. Payload is
    ids + integers only.
    """
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * _MAD_GRID + F.lit(0.5)).cast("bigint").alias("vc"),
    )
    med = (
        v.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("vc")).alias("w"))
        .select("user_id", _middle_col(F.col("w")).alias("med_cents"))
    )
    d = v.join(med, "user_id").withColumn(
        "dev", F.abs(F.col("vc") - F.col("med_cents"))
    )
    mad = (
        d.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("dev")).alias("w"))
        .select("user_id", _middle_col(F.col("w")).alias("mad_cents"))
    )
    return (
        d.join(mad, "user_id")
        .filter(F.col("dev") > _MAD_K * F.col("mad_cents"))
        .select(
            "event_id",
            "user_id",
            F.col("vc").alias("value_cents"),
            F.col("med_cents").alias("median_cents"),
            "mad_cents",
        )
    )


# ---------------------------------------------------------------------------
# Interleaved training-order schedule (deterministic round-robin mix)
# ---------------------------------------------------------------------------

_IL_TOP = 100


INTERLEAVE_ORACLE = f"""
WITH r AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
),
g AS (
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn,
           row_number() OVER (ORDER BY rn, source, doc_id) AS pos
    FROM r
)
SELECT CAST(pos AS BIGINT) AS pos, doc_id, source, rn FROM g WHERE pos <= {_IL_TOP}
"""


@register(
    "interleave_schedule",
    INTERLEAVE_ORACLE,
    f"deterministic round-robin training order across sources (first {_IL_TOP} positions)",
)
def q_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order materialization: round-robin across
    source domains — every source contributes its rank-1 doc before any
    source contributes its rank-2 doc, ties broken by (source, doc_id).
    mix_sampling / temperature_mix decide HOW MUCH of each domain to
    take; this decides the ORDER the trainer consumes it in, and an
    exact, content-independent order is what makes a data-loader resume
    or re-run bit-reproducible.

    Scale shape: one per-source window (partitioned rank) then a global
    position assignment. Emitted here as a top-{_IL_TOP} probe (the
    schedule's head); the full-corpus materialization is the two-phase
    distributed prefix sum token_budget_select already implements —
    per-partition counts, broadcast offsets, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy("doc_id")
    r = docs.select(
        "doc_id", "source", F.row_number().over(wr).cast("bigint").alias("rn")
    )
    wg = Window.orderBy("rn", "source", "doc_id")
    return (
        r.withColumn("pos", F.row_number().over(wg).cast("bigint"))
        .filter(F.col("pos") <= _IL_TOP)
        .select("pos", "doc_id", "source", "rn")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution (conversion -> most recent preceding touch)
# ---------------------------------------------------------------------------

_CONV_TYPE = "purchase"


ATTRIBUTION_ORACLE = f"""
WITH a AS (
    SELECT event_id, user_id, ts, event_type,
           last_value(CASE WHEN event_type <> '{_CONV_TYPE}' THEN event_id END IGNORE NULLS)
               OVER w AS touch_event_id,
           last_value(CASE WHEN event_type <> '{_CONV_TYPE}' THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
           last_value(CASE WHEN event_type <> '{_CONV_TYPE}' THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS touch_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, touch_event_id, touch_type,
       CAST(epoch_us(ts) - touch_us AS BIGINT) AS gap_us
FROM a WHERE event_type = '{_CONV_TYPE}'
"""


@register(
    "attribution_last_touch",
    ATTRIBUTION_ORACLE,
    f"last-touch attribution: each {_CONV_TYPE} linked to the most recent preceding non-{_CONV_TYPE} event",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: for every conversion event,
    the most recent PRECEDING event of any other type in the same
    user's stream (the touch), plus the touch->conversion gap in exact
    microseconds. Conversions with no prior touch keep NULL columns —
    the unattributable share is part of the answer, not dropped.

    The non-obvious part is doing it in ONE pass: a conditional
    last(..., ignorenulls) over the [unbounded, -1] row frame carries
    the latest touch forward past any run of conversions, so there is
    no self-join of conversions against touches (the naive shape — a
    second fact-fact join — is exactly what an event stream at scale
    cannot afford). One user_id window exchange, same as every
    per-user query; sessionize_gaps / funnel_conversion reuse it.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type") != _CONV_TYPE
    a = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return a.filter(F.col("event_type") == _CONV_TYPE).select(
        "event_id",
        "user_id",
        "touch_event_id",
        "touch_type",
        (F.unix_micros("ts") - F.col("touch_us")).cast("bigint").alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Inverted index postings (IR-engine primitive over the corpus)
# ---------------------------------------------------------------------------

INVERTED_INDEX_ORACLE = f"""
WITH ex AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
tf AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf FROM ex GROUP BY tok, doc_id)
SELECT tok AS token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM tf GROUP BY tok
"""


@register(
    "inverted_index_postings",
    INVERTED_INDEX_ORACLE,
    "inverted index build: per-token df, collection frequency, sorted doc_id postings",
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IR-engine primitive under bm25_retrieval's scoring: per
    token, its document frequency, collection frequency, and the
    doc_id-sorted postings list (emitted as the canonical
    comma-joined string, the array_agg_quantities gate convention) —
    materialized as data so a serving layer can range-read it. bm25 computes the STATISTICS; this emits
    the INDEX.

    Scale shape: the classic two-level index build — (token, doc)
    term frequencies with map-side combine, then one token-keyed agg
    assembling the postings array. Per-token payload is df-bounded;
    the hot-token mitigation at web scale is doc-range-sharded
    postings ((token, shard) keys, same plan shape), which this
    layout extends to directly. Text leaves the plan at the first
    projection — the exchanges carry (token, id, count) only.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    ex = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tf = ex.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    return tf.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
    ).withColumnRenamed("tok", "token")


# ---------------------------------------------------------------------------
# Stratified ES weighted sampling (per-language quota)
# ---------------------------------------------------------------------------

_WSG_N, _WSG_SEED = 40, 78


def _weighted_sample_stratified_oracle() -> str:
    from .functions.portable_ln import (
        LN2,
        POWS_CTE,
        py_grid_nanos,
        sql_grid_nanos,
        sql_ln_select,
    )
    from .operators.dedup import oracle_md5_int_sql

    ceiling = py_grid_nanos(48.0 * LN2)
    h = oracle_md5_int_sql("CAST(doc_id AS VARCHAR)", _WSG_SEED)
    base = f"(SELECT doc_id, lang, n_chars, ({h}) AS _h FROM documents)"
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
    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ({key}), doc_id) AS _rn
    FROM lns
) WHERE _rn <= {_WSG_N}
"""


@register(
    "weighted_sample_stratified",
    _weighted_sample_stratified_oracle(),
    f"per-language ES weighted sample without replacement (n={_WSG_N} per lang, weight=n_chars)",
)
def q_weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota sampling with ES weights: an independent
    weighted sample inside every language — how a mixing pipeline
    fills per-language budgets with quality-weighted draws instead of
    uniform ones (weighted_sample is the global-budget sibling; the
    dataset_split hash keeps assignment; this keeps selection).
    Identical exact-integer ES key (portable-ln chain, micro-grid DIV,
    ties to doc_id), different seed, and the global TakeOrdered
    replaced by a WindowGroupLimit per stratum.
    """
    from .operators.topk import weighted_sample_es_grouped

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample_es_grouped(
        docs,
        n_per_group=_WSG_N,
        seed=_WSG_SEED,
        key_col="doc_id",
        weight_col=F.greatest(F.col("n_chars"), F.lit(1)),
        group_cols=["lang"],
    )


# ---------------------------------------------------------------------------
# Recency-decayed value scoring (exact halving decay)
# ---------------------------------------------------------------------------

_DECAY_HALF_DAYS = 7
_DECAY_MAX_SHIFT = 30
_DECAY_GRID = 100  # cents


RECENCY_DECAY_ORACLE = f"""
WITH v AS (
    SELECT user_id, CAST(floor((value * {_DECAY_GRID}) + 0.5) AS BIGINT) AS vc,
           CAST(ts AS DATE) AS d
    FROM events
),
a AS (SELECT max(d) AS anchor FROM v)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(vc >> least(date_diff('day', d, anchor) // {_DECAY_HALF_DAYS}, {_DECAY_MAX_SHIFT})) AS BIGINT)
           AS decayed_cents
FROM v, a GROUP BY user_id
"""


@register(
    "recency_decay_score",
    RECENCY_DECAY_ORACLE,
    f"per-user recency-decayed value: halve per {_DECAY_HALF_DAYS} days via exact integer right-shift",
)
def q_recency_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-weighted scoring with an EXACT decay: value halves per
    {_DECAY_HALF_DAYS}-day age step, implemented as a BIGINT right
    shift (2^-k decay on the cents grid — the dyadic stand-in for
    exp(-age/tau) that both engines compute bit-identically; shift
    capped at {_DECAY_MAX_SHIFT} so stale rows floor at zero instead
    of overflowing the shift). The anchor date is the stream's max —
    data-derived, so backfills score identically to live runs.

    Scale shape: a scalar max (broadcast) + one user-keyed agg with
    map-side combine; age arithmetic is date-based integers, immune to
    timezone/rounding skew between engines.
    """
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "user_id",
        F.floor(F.col("value") * _DECAY_GRID + F.lit(0.5)).cast("bigint").alias("vc"),
        F.to_date("ts").alias("d"),
    )
    a = v.agg(F.max("d").alias("anchor"))
    return (
        v.crossJoin(F.broadcast(a))
        .select(
            "user_id",
            F.expr(
                f"shiftright(vc, least(datediff(anchor, d) div {_DECAY_HALF_DAYS}, {_DECAY_MAX_SHIFT}))"
            ).alias("dv"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("dv").cast("bigint").alias("decayed_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket association (support / confidence / lift)
# ---------------------------------------------------------------------------

_MB_MINSUP = 2


MARKET_BASKET_ORACLE = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
s AS (SELECT pk, CAST(count(*) AS BIGINT) AS supp FROM b GROUP BY pk),
p AS (
    SELECT a.pk AS pk_a, b2.pk AS pk_b, CAST(count(*) AS BIGINT) AS supp_ab
    FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
    GROUP BY a.pk, b2.pk HAVING count(*) >= {_MB_MINSUP}
)
SELECT pk_a, pk_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
       CAST((supp_ab * 1000000) // sa.supp AS BIGINT) AS conf_ppm,
       CAST((supp_ab * n.n_orders * 1000000) // (sa.supp * sb.supp) AS BIGINT) AS lift_ppm
FROM p JOIN s sa ON p.pk_a = sa.pk JOIN s sb ON p.pk_b = sb.pk, n
"""


@register(
    "market_basket_lift",
    MARKET_BASKET_ORACLE,
    f"association rules over order baskets: pair support >= {_MB_MINSUP}, confidence and lift in floor ppm",
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (the warehouse twin of
    pmi_phrases' text collocations): for part pairs co-bought in the
    same order, support, confidence P(b|a), and lift
    P(a,b)/(P(a)P(b)) — in exact floor ppm so both engines agree
    bit-for-bit.  Pairs below the support floor are pruned in the agg
    HAVING (the Apriori base step).

    Scale shape: ONE shuffle builds the baskets (groupBy order,
    collect_set of parts); pairs are then generated MAP-SIDE by
    exploding each sorted basket's upper triangle — the naive
    distinct + order-keyed self-join costs two extra exchanges of the
    full (order, part) stream for the same pairs (A/B'd equal-time at
    sf0.1, min-of-3 2.04s vs 2.07s, but one shuffle vs three).
    Fan-out is C(basket, 2), quadratic in basket size and NOT in
    corpus size; template-spam baskets are the analog of dedup's hot
    buckets, and the same per-key cap (dedup.cap_bucket_size) bolts
    on unchanged if a marketplace exhibits them. Item supports and
    the scalar order count come off the same basket table and
    broadcast onto the pruned pair table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    baskets = own(baskets)
    n = baskets.agg(F.count("*").cast("bigint").alias("n_orders"))
    s = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("supp"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), y -> "
                "struct(x AS pk_a, y AS pk_b))))"
            )
        ).alias("pr")
    ).select("pr.pk_a", "pr.pk_b")
    p = (
        pairs.groupBy("pk_a", "pk_b")
        .agg(F.count("*").cast("bigint").alias("supp_ab"))
        .filter(F.col("supp_ab") >= _MB_MINSUP)
    )
    return (
        p.join(s.select(F.col("pk").alias("pk_a"), F.col("supp").alias("supp_a")), "pk_a")
        .join(s.select(F.col("pk").alias("pk_b"), F.col("supp").alias("supp_b")), "pk_b")
        .crossJoin(F.broadcast(n))
        .select(
            "pk_a", "pk_b", "supp_ab", "supp_a", "supp_b",
            F.expr("(supp_ab * 1000000) div supp_a").cast("bigint").alias("conf_ppm"),
            F.expr("(supp_ab * n_orders * 1000000) div (supp_a * supp_b)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty curve (Heaps-law vocabulary growth per corpus batch)
# ---------------------------------------------------------------------------

_NOV_BATCH = 100  # docs per batch


NOVELTY_ORACLE = f"""
WITH ex AS (
    SELECT doc_id, unnest(list_distinct({shingles_sql(TOKS_SQL, _SHINGLE_N)})) AS s
    FROM documents
),
f AS (SELECT s, min(doc_id) AS first_doc FROM ex GROUP BY s),
b AS (
    SELECT first_doc // {_NOV_BATCH} AS batch, CAST(count(*) AS BIGINT) AS n_new
    FROM f GROUP BY 1
)
SELECT CAST(batch AS BIGINT) AS batch, n_new,
       CAST(sum(n_new) OVER (ORDER BY batch) AS BIGINT) AS cum_distinct
FROM b
"""


@register(
    "ngram_novelty_curve",
    NOVELTY_ORACLE,
    f"Heaps-law novelty curve: new distinct trigram shingles per {_NOV_BATCH}-doc ingest batch",
)
def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth datacard: how many NEVER-SEEN-BEFORE trigram
    shingles each ingest batch contributes, in doc_id order — the
    Heaps-law curve a crawl operator watches to decide when a source
    is mined out (flat curve = new data is old news; the corpus-level
    companion of doc_novelty's per-doc score, and the query form of
    tools/vocab_growth.py's offline sweep).

    "First occurrence" needs no ordered scan: min(doc_id) per shingle
    is one map-side-combinable agg, then batches are a floor division
    — the whole curve is two small aggs and a window over the (tiny)
    batch table. Shingle text leaves the plan at the min-agg; the
    window input is O(batches).
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    ex = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokenize(F.col("text")), _SHINGLE_N))
        ).alias("s"),
    )
    f = ex.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    b = (
        f.withColumn("batch", F.expr(f"first_doc div {_NOV_BATCH}").cast("bigint"))
        .groupBy("batch")
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return b.select(
        "batch", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cum_distinct")
    )


# ---------------------------------------------------------------------------
# User activity entropy (behavioral diversity, exact integer ln)
# ---------------------------------------------------------------------------


def _activity_entropy_oracle() -> str:
    from .functions.portable_ln import POWS_CTE, sql_grid_nanos, sql_ln_select

    lnc = sql_ln_select(
        "(SELECT DISTINCT c FROM occ) _dc",
        ["c"],
        {"a": "c"},
        [("nan", sql_grid_nanos("_ln_a"))],
    )
    lnn = sql_ln_select(
        "(SELECT DISTINCT n_events FROM per_user) _dn",
        ["n_events"],
        {"a": "n_events"},
        [("nan", sql_grid_nanos("_ln_a"))],
    )
    return f"""
WITH {POWS_CTE},
occ AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
lnc AS ({lnc}),
per_user AS (
    SELECT occ.user_id, CAST(sum(occ.c) AS BIGINT) AS n_events,
           CAST(sum(occ.c * l.nan) AS BIGINT) AS _s
    FROM occ JOIN lnc l ON l.c = occ.c
    GROUP BY 1
),
lnn AS ({lnn})
SELECT p.user_id, p.n_events,
       CAST(l.nan - (p._s // p.n_events) AS BIGINT) AS entropy_nanos
FROM per_user p JOIN lnn l ON l.n_events = p.n_events
"""


@register(
    "user_activity_entropy",
    _activity_entropy_oracle(),
    "per-user Shannon entropy of the event-type mix in exact integer ln-nanos (behavioral diversity)",
)
def q_user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity profiling: Shannon entropy of each user's
    event-type distribution — H = ln(n) - (sum_t c_t ln c_t)/n — the
    bot/monoculture signal (a scraper firing only 'view' scores ~0; a
    organic user scores near ln(#types)). Same exact-integer entropy
    core as token_entropy (functions/textstats.py), third consumer of
    the in-plan portable ln: every ln is evaluated per row by
    ln_int_col's chain, snapped to BIGINT nanos, combined with integer
    DIV — no floats in any compared value, no driver collects.

    Scale shape: a (user, type)-keyed count with map-side combine, a
    user-keyed sum, and one 5-row broadcast-sized ln domain per
    engine. The type cardinality bounds per-user state, not history.
    """
    from .functions.portable_ln import grid_nanos_col, ln_int_col

    events = load_table(spark, sf_dir, "events")
    occ = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    nano = lambda col: grid_nanos_col(ln_int_col(col))  # noqa: E731
    per_user = occ.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * nano(F.col("c"))).cast("bigint").alias("_s"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        (nano(F.col("n_events")) - F.expr("_s DIV n_events"))
        .cast("bigint")
        .alias("entropy_nanos"),
    )


# ---------------------------------------------------------------------------
# Churn label generation (supervised-label card over the event stream)
# ---------------------------------------------------------------------------

_CHURN_WINDOW_DAYS = 14


CHURN_ORACLE = f"""
WITH v AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
a AS (SELECT max(d) - INTERVAL {_CHURN_WINDOW_DAYS} DAY AS mid FROM v)
SELECT user_id,
       CAST(sum(CASE WHEN d <  mid THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN d >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       CAST(CASE WHEN sum(CASE WHEN d < mid THEN 1 ELSE 0 END) > 0
                  AND sum(CASE WHEN d >= mid THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS churned
FROM v, a GROUP BY user_id
"""


@register(
    "churn_labels",
    CHURN_ORACLE,
    f"churn training labels: active before but silent in the last {_CHURN_WINDOW_DAYS} days (data-derived anchor)",
)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-label generation over the event stream: a user is
    labeled churned iff they were active before the cutoff and silent
    in the trailing {_CHURN_WINDOW_DAYS}-day observation window. The
    cutoff is data-derived (max date minus the window), so a backfill
    reproduces the labels bit-for-bit — the label card a training
    pipeline joins features onto (retention_cohorts reads the same
    stream as a matrix; this is its per-user label form).

    Scale shape: one scalar anchor (broadcast) and a single user-keyed
    conditional-count agg with map-side combine; date-granular integer
    comparisons only.
    """
    events = load_table(spark, sf_dir, "events")
    v = events.select("user_id", F.to_date("ts").alias("d"))
    a = v.agg(F.date_sub(F.max("d"), _CHURN_WINDOW_DAYS).alias("mid"))
    before = F.sum(F.when(F.col("d") < F.col("mid"), 1).otherwise(0)).cast("bigint")
    after = F.sum(F.when(F.col("d") >= F.col("mid"), 1).otherwise(0)).cast("bigint")
    return (
        v.crossJoin(F.broadcast(a))
        .groupBy("user_id")
        .agg(before.alias("n_before"), after.alias("n_after"))
        .select(
            "user_id",
            "n_before",
            "n_after",
            F.when((F.col("n_before") > 0) & (F.col("n_after") == 0), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("churned"),
        )
    )
