"""In-engine trainable multinomial Naive-Bayes text classifier — the
fasttext-style quality/language classifier slot of a training-data
pipeline, expressed entirely as Spark aggregations (train) and a
broadcast join (score). No model file, no Python UDF: the "model" is
two small DataFrames (per-token class log-likelihoods, per-class
stats), derivable and servable inside the engine.

Reference analog: the reference's serving path classifies nothing —
it embeds and indexes (utils/upload_data_to_pinecone.py); a corpus
pipeline needs a cheap supervised filter ahead of that, and the
classic choice (CCNet, fastText quality filters) is a linear/NB model
over token counts.

Scale design (100 TB corpus):

- Training is two token-keyed aggregations with map-side partial
  combine: the exchanges carry (label, token, partial_count) rows —
  bounded by |vocab| × |classes|, not corpus token count.
- The model (vocab-wide table of per-class log-likelihoods) is
  |vocab| rows — broadcast at scoring; the corpus token stream joins
  map-side and reduces per (doc, class) with sum/count aggregates.
- Cross-engine exactness: log-likelihoods snap onto a 9-dp decimal
  grid so per-doc sums are independent of aggregation order; the logs
  themselves are PORTABLE (functions/portable_ln): driver Python
  evaluates the fixed-form IEEE software-ln over the bounded distinct
  (class, count) table (``ln((c+1)/(t+V)) = ln(c+1) − ln(t+V)``, all
  integer terms) and ships exact decimals; the oracle runs the same
  chain in SQL, so the values agree bit for bit on every DuckDB build
  — no libm on either side (r07 verdict #2: the previous
  single-sourcing still let the DRIVER's DuckDB evaluate ``ln`` in
  the oracle text, green only by libm luck). Argmax ties resolve in
  explicit ``classes`` order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import tokenize
from ..session import own

LP_SCALE = 9
_LP_TYPE = f"decimal(18,{LP_SCALE})"


def nb_train(
    df: DataFrame, label_col: str, text_col: str, classes: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB with add-one smoothing.

    Returns ``(model, stats)``:

    - ``model``: one row per vocabulary token, one ``lp_<c>`` column
      per class = ln((count(token|c)+1) / (tokens(c)+V)), null when
      the class never saw the token (the scorer substitutes the
      class's unseen log-likelihood).
    - ``stats``: ONE row with ``un_<c>`` (unseen log-likelihood) and
      ``pr_<c>`` (ln class prior) per class.

    ``classes`` is explicit — like pivot values, supplying it keeps
    training one aggregation pass (no distinct-label scan) and fixes
    the argmax tiebreak order.
    """
    from .portable_ln import literal_table, py_grid_decimal, py_ln_int

    spark = df.sparkSession
    toks = df.select(
        F.col(label_col).alias("_y"), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    # (label, token) counts feed THREE consumers (class totals, the
    # distinct-count collect, the model join); persist so the corpus
    # token stream is exploded and aggregated once — tc is
    # |classes| x |vocab| rows
    tc = own(toks.groupBy("_y", "token").agg(F.count(F.lit(1)).alias("_c")))
    # class token totals + overall vocab size: tiny aggregates off the
    # (label, token) count table, collected (|classes| rows / 1 row)
    totals = {
        r["_y"]: int(r["_t"])
        for r in tc.groupBy("_y").agg(F.sum("_c").alias("_t")).collect()
    }
    v = int(tc.agg(F.count_distinct("token").alias("_V")).collect()[0][0])

    # Portable log-likelihood table (see portable_ln): distinct
    # (class, token-count) pairs are bounded by count-value cardinality
    # per class (heavy-tailed counts ⇒ tiny), never by vocab; driver
    # Python evaluates the fixed-form IEEE ln over the integer terms —
    # mirrors the oracle's chain: snap(ln(_c+1) - ln(_t+_V))
    pair_rows = tc.select("_y", "_c").distinct().collect()
    lp_tbl = literal_table(
        spark,
        [
            (
                r["_y"],
                int(r["_c"]),
                py_grid_decimal(
                    py_ln_int(int(r["_c"]) + 1) - py_ln_int(totals[r["_y"]] + v)
                ),
            )
            for r in pair_rows
        ],
        f"_y string, _c bigint, _lp {_LP_TYPE}",
    )
    model = (
        tc.join(F.broadcast(lp_tbl), ["_y", "_c"])
        .groupBy("token")
        .agg(
            *[
                F.max(F.when(F.col("_y") == c, F.col("_lp"))).alias(f"lp_{c}")
                for c in classes
            ]
        )
    )

    ndocs = {
        r["_y"]: int(r["_nd"])
        for r in df.groupBy(F.col(label_col).alias("_y"))
        .agg(F.count(F.lit(1)).alias("_nd"))
        .collect()
    }
    # the oracle's stats CTE inner-joins totals to ndocs, so classes
    # with no training tokens contribute nothing to _nd_all and yield
    # NULL un/pr (empty max(CASE ...) aggregates) — mirror that here
    nd_all = sum(n for y, n in ndocs.items() if y in totals)
    # per-class unseen log-likelihood + log prior, same portable scheme
    # (mirrors the oracle's chain: snap(0.0 - ln(_t+_V)) and
    # snap(ln(_nd) - ln(_nd_all)); classes absent from the training
    # tokens stay NULL, as the oracle's empty CASE aggregates do)
    by_cls = {
        c: (
            py_grid_decimal(0.0 - py_ln_int(totals[c] + v))
            if c in totals
            else None,
            py_grid_decimal(py_ln_int(ndocs[c]) - py_ln_int(nd_all))
            if c in totals and nd_all > 0
            else None,
        )
        for c in classes
    }
    stats = spark.createDataFrame(
        [tuple(by_cls[c][0] for c in classes) + tuple(by_cls[c][1] for c in classes)],
        schema=", ".join(
            [f"un_{c} {_LP_TYPE}" for c in classes]
            + [f"pr_{c} {_LP_TYPE}" for c in classes]
        ),
    )
    return model, stats


def nb_totals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    stats: DataFrame,
    classes: list[str],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document class log-likelihood totals ``_t_<c>`` under the
    trained model — the shared core of :func:`nb_score` (argmax) and
    :func:`nb_margin_calibration` (top-2 margin).

    Per (doc, class): sum of matched log-likelihoods + (#unseen tokens
    × class unseen-lp) + class log-prior — all decimal arithmetic, so
    the total is aggregation-order-independent. The model joins by
    broadcast (vocab-sized); the token stream never shuffles raw — the
    per-doc exchange carries (doc, sum, count) aggregate rows.
    Documents with zero tokens are dropped (no evidence to score).
    """
    keep = keep_cols or []
    toks = df.select(
        F.col(id_col), *[F.col(c) for c in keep], F.explode(tokenize(F.col(text_col))).alias("token")
    )
    scored = (
        toks.join(F.broadcast(model), "token", "left")
        .groupBy(id_col, *keep)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum(f"lp_{c}").alias(f"_s_{c}") for c in classes],
            *[F.count(f"lp_{c}").alias(f"_m_{c}") for c in classes],
        )
        .crossJoin(F.broadcast(stats))
    )
    totals = {
        c: (
            F.coalesce(F.col(f"_s_{c}"), F.lit(0).cast(_LP_TYPE))
            + (F.col("_n") - F.col(f"_m_{c}")) * F.col(f"un_{c}")
            + F.col(f"pr_{c}")
        )
        for c in classes
    }
    return scored.select(
        F.col(id_col), *[F.col(c) for c in keep], *[totals[c].alias(f"_t_{c}") for c in classes]
    )


def nb_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    stats: DataFrame,
    classes: list[str],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Predicted class per document under the trained model (argmax of
    :func:`nb_totals`; ties resolve in explicit ``classes`` order)."""
    keep = keep_cols or []
    scored = nb_totals(df, id_col, text_col, model, stats, classes, keep_cols)
    mx = F.greatest(*[F.col(f"_t_{c}") for c in classes])
    pred = None
    for c in reversed(classes):
        tail = F.lit(c) if pred is None else pred
        pred = F.when(F.col(f"_t_{c}") == mx, F.lit(c)).otherwise(tail)
    return scored.select(F.col(id_col), *[F.col(c) for c in keep], pred.alias("predicted"))


def nb_confusion(
    df: DataFrame, id_col: str, label_col: str, text_col: str, classes: list[str]
) -> DataFrame:
    """Self-train evaluation: train on the labeled corpus, score the
    same corpus, return the confusion matrix (label, predicted,
    n_docs) — the one-pass sanity check a labeling pipeline runs
    before trusting a model to filter at scale."""
    model, stats = nb_train(df, label_col, text_col, classes)
    scored = nb_score(df, id_col, text_col, model, stats, classes, keep_cols=[label_col])
    return (
        scored.groupBy(F.col(label_col), F.col("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def nb_margin_calibration(
    df: DataFrame,
    id_col: str,
    label_col: str,
    text_col: str,
    classes: list[str],
    band_cap: int = 10,
) -> DataFrame:
    """Confidence-vs-accuracy reliability bands: self-train, score, and
    report per MARGIN band (top1 − top2 class log-likelihood, in whole
    nats, capped at ``band_cap``) how many documents land there and how
    many are correctly classified — the calibration curve a pipeline
    reads before using classifier confidence as a keep/drop knob
    (high-margin bands should approach perfect accuracy; if they do
    not, margin thresholds are meaningless for filtering).

    Exactness: totals are 9-dp decimals (aggregation-order-free), the
    margin is one exact decimal subtraction, and banding is
    ``least(cap, floor(margin))`` — integer-exact in both engines.
    Top-1 ties break by class name ascending, matching nb_score's
    first-in-classes-order argmax (``classes`` is sorted).

    Shape (r12 opt, §2.4): the top-2 of a FIXED |classes|-column row
    is scan-local ``greatest`` arithmetic — t1 = greatest(t_c), c1 =
    the argmax when-chain, t2 = greatest(t_c for c ≠ c1).  The former
    spelling exploded each doc into |classes| rows and ranked them
    with a doc-partitioned row_number window: an extra doc-keyed
    Exchange + sort + re-group, all to pick 2 of 5 known columns (the
    oracle still spells it as the window — equal values by
    construction, including t1-tie rows where t2 == t1 and
    single-scored docs where t2 is NULL).  Plan: 2 Exchange + Window →
    0 extra exchanges; per-query A/B in OPTIMIZATION_r12.md.
    """
    if sorted(classes) != list(classes):
        raise ValueError("classes must be sorted: top-1 tiebreak == argmax order")
    model, stats = nb_train(df, label_col, text_col, classes)
    tot = nb_totals(df, id_col, text_col, model, stats, classes, keep_cols=[label_col])
    t1 = F.greatest(*[F.col(f"_t_{c}") for c in classes])
    c1 = None
    for c in reversed(classes):
        tail = F.lit(c) if c1 is None else c1
        c1 = F.when(F.col(f"_t_{c}") == t1, F.lit(c)).otherwise(tail)
    # greatest() skips NULLs, so masking the winner with NULL yields the
    # runner-up value; a doc with only one non-NULL total gets t2 NULL,
    # exactly as the window form's missing rank-2 row did
    top2 = tot.select(
        F.col(label_col),
        t1.alias("t1"),
        c1.alias("c1"),
        F.greatest(
            *[
                F.when(F.lit(c) != c1, F.col(f"_t_{c}"))
                for c in classes
            ]
        ).alias("t2"),
    )
    band = F.least(
        F.lit(band_cap),
        F.floor(F.col("t1") - F.col("t2")).cast("int"),
    ).cast("int")
    return top2.groupBy(band.alias("margin_band")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("c1") == F.col(label_col), F.lit(1))).alias("n_correct"),
    )
