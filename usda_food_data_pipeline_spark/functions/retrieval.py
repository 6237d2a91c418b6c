"""Lexical retrieval over the document corpus: TF-IDF keyword
extraction, BM25 scoring, and reciprocal-rank fusion with the vector
path (operators/similarity).

Reference analog: the reference serves retrieval through a vector
index only (utils/upload_data_to_pinecone.py, app.py index.query);
these operators add the lexical/hybrid side a production corpus-serving
stack pairs with it. All formulas are reproducible in ANSI SQL for the
DuckDB oracle (registry_text / registry_vector).

Scale notes (100 TB design point):

- The exploded token stream is never shuffled raw: BM25 filters it to
  the query's terms BEFORE any aggregation (a handful of matches per
  doc), and TF-IDF aggregates map-side so each exchange carries one row
  per distinct (doc, term) — bounded by distinct-pair count, not corpus
  token count.
- Corpus-level statistics (N, avgdl, per-term document frequency) are
  tiny aggregates joined back by broadcast — the text_surprisal
  pattern.
- Cross-engine determinism: every ranking key is either pure-integer
  ((tf DESC, df ASC, token) for keywords) or a decimal-summed score
  (BM25 per-term scores snap onto a 9-dp decimal grid and sum exactly,
  so per-doc totals are identical in Spark and DuckDB regardless of
  aggregation order).  The idf logs are PORTABLE (functions/
  portable_ln): driver Python evaluates the fixed-form IEEE software
  ln over integer ratios — the Robertson idf ln(1 + (N-df+0.5)/
  (df+0.5)) is the integer ratio (2N+2)/(2df+1), the smoothed TF-IDF
  idf (N+1)/(df+1) is integral already — and the oracle SQL runs the
  SAME chain, so both sides agree bit for bit on every DuckDB build
  (r07 verdict #2: the previous single-sourcing still let the driver's
  DuckDB evaluate ``ln`` in the oracle text — green only by libm
  luck).  Grid snaps are floor(v·10^s + 0.5) integer math, never
  float ``round()`` (whose tie/scaling behavior is engine-specific).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokenize
from ..session import own

# BM25 constants (standard Okapi defaults); dyadic b so b*dl/avgdl is
# one multiply + one divide in both engines (no decimal drift).
BM25_K1 = 1.2
BM25_B = 0.75
# Per-term scores are rounded to this decimal grid and summed exactly
# (decimal addition is associative), making per-doc totals independent
# of aggregation order on both engines.
SCORE_SCALE = 9
RRF_K = 60


def doc_term_freq(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token, tf) — one row per distinct (doc, term).

    explode → two-level aggregate: partial counts combine map-side, so
    the single exchange carries distinct (doc, token) partial rows, not
    the token stream.
    """
    toks = df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token"))
    return toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))


def tfidf_keywords(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-k keywords per document by TF-IDF.

    score = tf * ln((N+1)/(df+1)) with smoothed idf. The per-doc rank
    is (tf DESC, df ASC, token ASC) — an all-integer ordering key, so
    the selected row set is bit-identical across engines; the float
    score ships as a value column rounded to 4 dp (the text_surprisal
    precision contract). WindowGroupLimit pushes the per-doc top-k
    below the rank window's shuffle.
    """
    # tf feeds both the idf aggregate and the final score join; without
    # persist each consumer re-derives it from a full corpus scan (Spark
    # has no cross-branch subplan CSE). This is the posting-list
    # materialization every tf-idf build pays once — at warehouse scale
    # it would be a written table, in-session it's a MEMORY_AND_DISK
    # cache of (doc, token, tf) rows.
    from .portable_ln import grid_nanos_col, literal_table, py_ln_combine

    spark = df.sparkSession
    tf = own(doc_term_freq(df, id_col, text_col))
    # dfreq feeds the distinct-df collect AND the score join; persist so
    # the (doc, token, tf) cache is aggregated once
    dfreq = own(tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")))
    n = int(df.agg(F.count(F.lit(1))).collect()[0][0])
    # portable idf (module docstring): distinct df values are bounded
    # by distinct frequency cardinality, not vocab; the smoothed idf
    # (N+1)/(df+1) is an integer ratio — mirrors the oracle's chain:
    # ln(N+1) - ln(df+1)
    idf_tbl = literal_table(
        spark,
        [
            (d, py_ln_combine([("+", n + 1), ("-", d + 1)]))
            for d in sorted(int(r["df"]) for r in dfreq.select("df").distinct().collect())
        ],
        "df bigint, _lnidf double",
    )
    # tf·idf snapped onto the 4-dp grid with floor integer math, shipped
    # as a double value column (the rank key stays all-integer)
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(idf_tbl), "df")
        .withColumn(
            "tfidf",
            grid_nanos_col(F.col("tf").cast("double") * F.col("_lnidf"), 4).cast(
                "double"
            )
            / F.lit(10000.0),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", "tf", "df", "tfidf")
    )


def _bm25_term_score(k1: float, b: float, avgdl: float) -> Column:
    """Okapi BM25 per-(doc, term) contribution from columns tf, dl and
    the portable ``_idf`` double — snapped onto the decimal grid with
    floor integer math.  Everything here is IEEE-basic arithmetic
    (+, -, *, /), which both engines round identically; the
    transcendental part rides in as the ``_idf`` literal."""
    from .portable_ln import grid_decimal_col, grid_nanos_col

    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    return grid_decimal_col(
        grid_nanos_col(F.col("_idf") * sat, SCORE_SCALE), 28, SCORE_SCALE
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 score of every matching document for a bag-of-words query.

    The token stream is filtered to the query's terms inside the scan
    projection (array filter, codegen'd), so the only per-token rows
    that ever leave a task are query-term matches; corpus stats (N,
    avgdl) ride a 1-row broadcast and document frequencies come from
    the already-tiny match table. Returns (id, n_terms_matched, bm25).
    """
    from .portable_ln import literal_table, py_ln_combine

    spark = df.sparkSession
    qarr = F.array(*[F.lit(t) for t in query_terms])
    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).withColumn("dl", F.size("_toks").cast("double"))
    st = base.agg(
        F.count(F.lit(1)).cast("double").alias("N"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    # N and avgdl are exact-deterministic doubles (integer-valued sums
    # below 2^53 + one correctly-rounded division), so collecting them
    # and re-injecting as literals reproduces the oracle's values bit
    # for bit. In a serving deployment both are precomputed index
    # metadata, not per-query scans.
    n_docs, avgdl = float(st["N"]), float(st["avgdl"] or 0.0)
    matched = base.select(
        F.col(id_col),
        "dl",
        F.explode(F.filter(F.col("_toks"), lambda t: F.array_contains(qarr, t))).alias(
            "token"
        ),
    )
    # persist: tf (query-term matches only — tiny) feeds both the df
    # collect and the score join; without it the corpus is re-scanned
    # per consumer.
    tf = own(matched.groupBy(id_col, "dl", "token").agg(F.count(F.lit(1)).alias("tf")))
    df_rows = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")).collect()
    # portable idf over the (≤ |query_terms|)-row df table; the
    # Robertson idf ln(1 + (N-df+0.5)/(df+0.5)) == ln((2N+2)/(2df+1)),
    # an exact integer ratio — mirrors the oracle's chain:
    # ln(2N+2) - ln(2df+1)
    idf_tbl = literal_table(
        spark,
        [
            (
                r["token"],
                py_ln_combine(
                    [("+", 2 * int(n_docs) + 2), ("-", 2 * int(r["df"]) + 1)]
                ),
            )
            for r in df_rows
        ],
        "token string, _idf double",
    )
    scored = tf.join(F.broadcast(idf_tbl), "token")
    per_term = scored.withColumn("_s", _bm25_term_score(k1, b, avgdl))
    return per_term.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("_s").cast("double").alias("bm25"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 retrieval: scores + TakeOrderedAndProject (per-task
    k-row heaps; only k rows per task reach the final ordering)."""
    scores = bm25_scores(df, id_col, text_col, query_terms, k1=k1, b=b)
    return scores.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)


def rrf_fuse(
    lexical: DataFrame,
    vector: DataFrame,
    id_col: str,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists.

    Inputs carry (id, rank) each; a candidate missing from one list
    contributes nothing for it. rrf = sum(1/(rrf_k + rank)) — small
    integer ratios, so the doubles are identical across engines; the
    shipped value snaps onto the 9-dp grid with floor integer math
    (portable_ln — float ``round()`` tie/scaling behavior is
    engine-specific). The candidate lists are top-n products
    (driver-small by construction), so the outer join broadcasts.
    """
    from .portable_ln import grid_nanos_col
    lex = lexical.select(F.col(id_col), F.col("rank").alias("_r_lex"))
    vec = vector.select(F.col(id_col), F.col("rank").alias("_r_vec"))
    fused = lex.join(vec, id_col, "full_outer").select(
        id_col,
        "_r_lex",
        "_r_vec",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("_r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("_r_vec")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            F.col("_r_lex").alias("rank_lexical"),
            F.col("_r_vec").alias("rank_vector"),
            (
                grid_nanos_col(F.col("rrf"), SCORE_SCALE).cast("double")
                / F.lit(1000000000.0)
            ).alias("rrf"),
        )
    )


def bm25_batch_topk(
    df: DataFrame,
    queries: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 for a BATCH of bag-of-words queries in one corpus
    pass — the serving shape: production retrieval scores thousands of
    queries per scan, not one.

    One token-stream filter against the UNION of all query terms, one
    (doc, term) tf aggregate, one portable idf table (portable_ln
    — shared across queries), then a broadcast join against the
    (query_id, term) table fans each matched term out to the queries
    that want it; per-(query, doc) decimal sums and a per-query rank
    window (WindowGroupLimit prunes to k rows per task) replace the
    single-query TakeOrdered. Corpus cost is independent of the number
    of queries; only the fan-out join and the (query, doc) aggregate
    scale with it.

    Returns (query_id, {id_col}, n_terms_matched, bm25, rank), rank<=k
    per query by (bm25 DESC, id).
    """
    from pyspark.sql import Window

    from .portable_ln import literal_table, py_ln_combine

    spark = df.sparkSession
    all_terms = sorted({t for _, ts in queries for t in ts})
    qterms = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, ts in queries for t in sorted(set(ts))],
            "query_id int, token string",
        )
    )
    qarr = F.array(*[F.lit(t) for t in all_terms])
    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).withColumn("dl", F.size("_toks").cast("double"))
    st = base.agg(
        F.count(F.lit(1)).cast("double").alias("N"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = float(st["N"]), float(st["avgdl"] or 0.0)
    matched = base.select(
        F.col(id_col),
        "dl",
        F.explode(F.filter(F.col("_toks"), lambda t: F.array_contains(qarr, t))).alias(
            "token"
        ),
    )
    tf = own(matched.groupBy(id_col, "dl", "token").agg(F.count(F.lit(1)).alias("tf")))
    df_rows = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")).collect()
    # portable idf shared across the whole query batch (see bm25_scores)
    idf_tbl = literal_table(
        spark,
        [
            (
                r["token"],
                py_ln_combine(
                    [("+", 2 * int(n_docs) + 2), ("-", 2 * int(r["df"]) + 1)]
                ),
            )
            for r in df_rows
        ],
        "token string, _idf double",
    )
    per_term = (
        tf.join(F.broadcast(idf_tbl), "token")
        .join(qterms, "token")
        .withColumn("_s", _bm25_term_score(k1, b, avgdl))
    )
    scores = per_term.groupBy("query_id", id_col).agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("_s").cast("double").alias("bm25"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col(id_col))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "n_terms_matched", "bm25", F.col("rank").cast("int").alias("rank"))
    )
