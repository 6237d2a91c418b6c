"""Distributed global prefix sums and token-budget corpus selection.

A global running total (``sum(x) OVER (ORDER BY ...)``), asked naively,
is the classic Spark scale trap: an ORDER BY window with no PARTITION BY
moves the whole table into ONE task (WindowExec warns and then does it
anyway).  The scalable shape is the textbook two-phase scan:

1. range-partition by the global sort key (one exchange, the same one a
   global sort would need anyway);
2. per-partition running sums — a window PARTITIONED by
   ``spark_partition_id()``, so every task folds only its own slice;
3. per-partition totals (one tiny aggregate, ≤ #partitions rows)
   collect to the driver, cumulate there, and rejoin as a literal
   pid→offset map.

Total cost: one range exchange + one #partitions-row collect,
regardless of data size.  The range boundaries Spark samples are not
themselves deterministic, but the OUTPUT is: the sort key is total
(ties broken by a unique id), and any contiguous split of a totally
ordered stream produces identical prefix sums.

One materialization, not two (ADVICE r06 high, lifetime fixed per
ADVICE r07 medium): the totals collect and the returned DataFrame are
SEPARATE Dataset actions, and separate actions do not share a
repartitionByRange exchange — RangePartitioner samples with an
rdd.id-derived seed, so a re-executed exchange may place boundary rows
differently, silently invalidating the collected pid→offset map.  The
per-partition stage is therefore ``localCheckpoint``-ed (lineage CUT,
not just cached): the totals collect materializes the checkpoint
blocks, and the returned plan reads those same blocks — re-execution
of the exchange is impossible by construction, not merely unlikely.
The checkpoint belongs to the query run, which frees it once the caller
has materialized the output; a read after that raises instead of
re-running the exchange under a new sampling seed against the stale
offset map.

``token_budget_select`` applies this to the selection step most
training-data pipelines end with: order the corpus by a quality score
and keep the best prefix that fits a token budget.  The score is exact
integer arithmetic (distinct-token ratio on a 10⁶ grid via the
round-half-up integer division used by operators/kmeans.py), so the
selection boundary is engine-exact.

Reference analog: none; extends SURVEY.md §2's mixing/packing family
per the LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokenize
from ..session import checkpoint

SCORE_GRID = 10**6


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive global running sum of ``value_col`` under the total
    order ``order_cols`` without a single-partition window."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    ranged = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # localCheckpoint BEFORE the totals collect: the collect (the first
    # action) materializes the checkpoint blocks, cutting lineage — the
    # offsets and the returned output can only ever read ONE physical
    # partitioning (see module docstring).  The query run owns the
    # blocks like any other checkpoint: they outlive every read of the
    # output inside the run, and once the run frees them a read fails
    # loudly rather than re-sampling the range exchange.
    local = checkpoint(ranged.withColumn("_lcum", F.sum(value_col).over(w)), eager=False)

    totals = sorted(
        local.groupBy("_pid").agg(F.sum(value_col).alias("_t")).collect(),
        key=lambda r: r["_pid"],
    )
    offsets, running = {}, 0
    for r in totals:
        offsets[r["_pid"]] = running
        running += int(r["_t"])
    off = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for pid, o in offsets.items() for x in (pid, o)]
            ),
            F.col("_pid"),
        )
        if offsets
        else F.lit(None).cast("long"),
        F.lit(0),
    )
    return local.withColumn(out_col, (F.col("_lcum") + off)).drop("_pid", "_lcum")


def token_budget_select(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_num: int = 3,
    budget_den: int = 10,
) -> DataFrame:
    """Keep the best-scoring prefix of the corpus whose inclusive token
    count fits ``budget_num/budget_den`` of the total.

    Score = distinct-token ratio on the 10⁶ grid (round-half-up integer
    division — exact cross-engine); order (score DESC, id) is total.
    Returns ``id_col, score, n_toks, cum_toks`` for the selected docs.
    Zero-token documents carry no signal and are excluded up front.
    """
    t = docs.select(
        F.col(id_col),
        tokenize(F.col(text_col)).alias("_toks"),
    ).select(
        id_col,
        F.size("_toks").cast("long").alias("n_toks"),
        F.size(F.array_distinct("_toks")).cast("long").alias("_nd"),
    ).filter(F.col("n_toks") > 0)
    scored = t.select(
        id_col,
        F.expr(f"(2 * _nd * {SCORE_GRID} + n_toks) DIV (2 * n_toks)").alias(
            "score"
        ),
        "n_toks",
    )
    # the budget is one scalar: a 1-row aggregate collected on the driver
    total = scored.agg(F.sum("n_toks").alias("_t")).collect()[0]["_t"]
    budget = (int(total) * budget_num) // budget_den

    cum = global_prefix_sum(
        scored,
        [F.col("score").desc(), F.col(id_col)],
        "n_toks",
        out_col="cum_toks",
    )
    return cum.filter(F.col("cum_toks") <= budget).select(
        id_col, "score", "n_toks", "cum_toks"
    )
