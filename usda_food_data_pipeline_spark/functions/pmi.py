"""Pointwise-mutual-information phrase mining over a corpus.

The classic collocation/phrase-discovery operator (Church & Hanks 1990;
the phrase-vocabulary step of word2vec's phrase pass and of tokenizer
vocabulary curation): rank adjacent word pairs by

    PMI(x, y) = ln( p(x,y) / (p(x) · p(y)) )
              = ln c_xy + 2·ln N − ln N_b − ln c_x − ln c_y

with p(x,y) = c_xy / N_b (bigram occurrences) and p(x) = c_x / N
(unigram occurrences), keeping pairs with ``c_xy ≥ min_count``.

Scale shape: two linear aggregations (unigram and bigram counts, both
map-side combined; exchanges carry count rows, never text), one scalar
totals job, broadcast joins of the count tables against per-DISTINCT-
count-value log tables, and a TakeOrdered top-k — no pair generation,
no quadratic stage, no corpus-sized collect.

Cross-engine exactness (functions/portable_ln, per-term BIGINT
snapping — the r08-task-3 discipline): every ln term is evaluated by
the fixed-form IEEE chain over the bounded DISTINCT count values in
driver Python, snapped to integer grid nanos once per value, and the
five-term combine runs left-associated in exact BIGINT arithmetic —
the oracle SQL spells the identical chain, so no libm and no float
combine sits on either side of the comparison.

Reference analog: none; extends SURVEY.md §2's text-analysis family
per the LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokenize
from ..session import concurrently, own

PMI_SCALE = 9
_PMI_TYPE = f"decimal(18,{PMI_SCALE})"


def _adjacent(toks):
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.arrays_zip(
        F.slice(toks, 1, m).alias("w1"), F.slice(toks, 2, m).alias("w2")
    )


def pmi_phrases(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top ``top_n`` adjacent pairs by exact-grid PMI.

    Returns ``(w1, w2, c_xy int, pmi decimal(18,9), rank int)`` ordered
    by (pmi_nanos DESC, w1, w2) — deterministic because the ranking key
    is an exact integer.
    """
    from .portable_ln import (
        grid_decimal_col,
        literal_table,
        py_grid_nanos,
        py_ln_int,
    )

    spark = docs.sparkSession
    toks = own(docs.select(tokenize(F.col(text_col)).alias("toks")))
    uni = own(
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = own(
        toks.select(F.explode(_adjacent(F.col("toks"))).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )

    # bounded driver jobs: totals + distinct count VALUES (heavy-tailed
    # counts ⇒ tiny domains), run concurrently like lm's model build
    u_row, b_row = concurrently(
        spark,
        lambda: uni.agg(F.sum("c").alias("_n"), F.collect_set("c").alias("_vals")).collect()[0],
        lambda: bg.agg(
            F.sum("c_xy").alias("_nb_kept"),
            F.collect_set("c_xy").alias("_vals"),
        ).collect()[0],
    )
    n_total = int(u_row["_n"] or 0)
    # N_b counts ALL bigram occurrences (the PMI denominator), not just
    # kept ones: derive exactly from the unigram pass — every doc emits
    # (len − 1) bigrams = total tokens − number of docs with ≥1 token…
    # that needs doc counts, so take one more scalar job on the cache.
    nb_total = int(
        toks.select(
            F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).alias("nb")
        ).collect()[0]["nb"]
        or 0
    )
    if n_total == 0 or nb_total == 0:
        return bg.select(
            F.col("w1"),
            F.col("w2"),
            F.col("c_xy").cast("int").alias("c_xy"),
            F.lit(None).cast(_PMI_TYPE).alias("pmi"),
            F.lit(None).cast("int").alias("rank"),
        ).limit(0)

    def n(x: int) -> int:
        return py_grid_nanos(py_ln_int(x))

    # per-term snapped scalars and per-distinct-count tables
    n_N, n_Nb = n(n_total), n(nb_total)
    ln_xy = literal_table(
        spark,
        [(int(c), n(int(c))) for c in (b_row["_vals"] or [])],
        "c_xy bigint, _nxy bigint",
    )
    ln_w = literal_table(
        spark,
        [(int(c), n(int(c))) for c in (u_row["_vals"] or [])],
        "c bigint, _nw bigint",
    )

    ux = uni.select(F.col("w").alias("w1"), F.col("c").alias("_cx"))
    uy = uni.select(F.col("w").alias("w2"), F.col("c").alias("_cy"))
    scored = (
        bg.join(ux, "w1")
        .join(uy, "w2")
        .join(F.broadcast(ln_xy), "c_xy")
        .join(
            F.broadcast(ln_w.select(F.col("c").alias("_cx"), F.col("_nw").alias("_nx"))),
            "_cx",
        )
        .join(
            F.broadcast(ln_w.select(F.col("c").alias("_cy"), F.col("_nw").alias("_ny"))),
            "_cy",
        )
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("int").alias("c_xy"),
            # left-associated exact BIGINT combine:
            # ((((n_cxy + n_N) + n_N) − n_Nb) − n_cx) − n_cy
            (
                (
                    ((F.col("_nxy") + F.lit(n_N)) + F.lit(n_N)) - F.lit(n_Nb)
                )
                - F.col("_nx")
                - F.col("_ny")
            ).alias("_pn"),
        )
    )
    top = scored.orderBy(F.col("_pn").desc(), "w1", "w2").limit(top_n)
    w = Window.orderBy(F.col("_pn").desc(), "w1", "w2")
    # unpartitioned window AFTER the TakeOrdered limit: ranks exactly
    # top_n rows (bounded by the parameter, never the corpus)
    return top.select(
        "w1",
        "w2",
        "c_xy",
        grid_decimal_col(F.col("_pn"), 18, PMI_SCALE).alias("pmi"),
        F.row_number().over(w).cast("int").alias("rank"),
    )
