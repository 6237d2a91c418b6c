"""Count-Min Sketch over the corpus token stream (Cormode &
Muthukrishnan 2005) — the mergeable fixed-width counter structure a
100 TB pipeline uses where exact per-token counts no longer fit.

Why this is THE sketch shape for Spark:

- the sketch is a ``d × w`` counter table (here 4 × 1024 = 4096 rows,
  fixed FOREVER regardless of corpus size).  Building it is one
  aggregation over the exploded token stream keyed by (row, bucket):
  partial counts combine map-side, so every exchange carries at most
  ``d·w`` rows per task — the definition of mergeable.  Sharded
  corpora build shards independently and SUM the tables;
- estimation is ``min_r counters[r][h_r(token)]`` — one broadcast hash
  join of the candidate keys against the 4096-row counter table plus a
  map-side-combinable min (ADVICE r07 low: the previous plan-time
  literal map repeated a create_map with up to 8192 literal children
  once per depth arm — ~32k literal expressions in one projection,
  codegen-fallback territory; the broadcast join is the same lookup
  with constant-size expressions and no driver collect at all);
- the classic guarantee holds verbatim: estimates never undercount,
  and overshoot ≤ εN with probability 1-δ (ε = e/w, δ = e^-d).

Cross-engine exactness: bucket ids come from the portable ``md5_int``
hash and every counter is an integer sum, so the DuckDB oracle rebuilds
the identical sketch and the identical estimates — an exactly-twinnable
APPROXIMATE structure (the approximation is deterministic data
reduction, not randomness).

Reference analog: none (the reference has no sketching); extends the
SURVEY.md §2 text-analysis family per the LLM-pipeline mandate — token
frequency truncation/heavy-hitter lists are standard tokenizer-prep
and quality-filter inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import md5_int, tokenize
from ..session import concurrently

CMS_DEPTH = 4
CMS_WIDTH = 1024
# seeds for the d row hashes — disjoint from every other md5_int seed
# in the engine (17, 21, 29, 31, 37, split=3)
CMS_SEEDS = (101, 102, 103, 104)

# HyperLogLog: m = 2^8 registers over a 48-bit portable hash — the
# remaining 40 bits feed the rank, so ranks live in 1..41
HLL_M = 256
HLL_SEED = 113
_HLL_RANK_BITS = 40


def _bucket(col: Column, seed: int, width: int = CMS_WIDTH) -> Column:
    return md5_int(col, seed=seed, nibbles=8) % width


def cms_build(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The d×w counter table ``(r, b, c)`` over the corpus token stream.

    One explode + one aggregation; the (r, b) key space is 4096 values,
    so map-side combine bounds the exchange at 4096 rows per task and
    the result is a broadcast-sized, shard-mergeable artifact.
    """
    toks = docs.select(F.explode(tokenize(F.col(text_col))).alias("w"))
    keyed = toks.select(
        F.posexplode(
            F.array(*[_bucket(F.col("w"), s) for s in CMS_SEEDS])
        ).alias("r", "b")
    )
    return keyed.groupBy("r", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))


def cms_heavy_hitters(
    docs: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Top-``k`` tokens by Count-Min estimate, with the exact count
    alongside to exhibit the one-sided error guarantee.

    Returns ``(token, true_n, est_n, overcount)`` ordered by
    (est_n DESC, token), overcount = est_n - true_n ≥ 0 always.

    The candidate set here is the corpus vocabulary (the true counts
    ride the same vocab-bounded aggregate the estimate audit needs); at
    100 TB the candidate stream would instead be a bottom-k sample or
    an external watchlist — the sketch lookup is the same broadcast
    join either way and never rescans the corpus.

    Estimation plan (ADVICE r07 low — no literal map, no collect):
    each candidate fans out to its d (r, b) probe keys (scan-local
    posexplode), one broadcast hash join resolves the counters, and a
    map-side-combinable min folds them back to one row per candidate.
    Every probed bucket exists in the sketch by construction (a
    corpus-derived candidate contributed its own counts), so the inner
    join is lossless.
    """
    toks = docs.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    probes = truth.select(
        "token",
        "true_n",
        F.posexplode(
            F.array(*[_bucket(F.col("token"), s) for s in CMS_SEEDS])
        ).alias("r", "b"),
    )
    est = (
        probes.join(F.broadcast(cms_build(docs, text_col)), ["r", "b"])
        .groupBy("token", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        est.withColumn("overcount", F.col("est_n") - F.col("true_n"))
        .orderBy(F.col("est_n").desc(), F.col("token"))
        .limit(k)
    )


def _hll_alpha() -> float:
    """alpha_256 = 0.7213/(1 + 1.079/m), constructed from integer-literal
    divisions only (correctly rounded everywhere — never parsed as a
    bare float literal whose decimal->double conversion some engine
    might round differently). The oracle spells the identical ops."""
    return (7213.0 / 10000.0) / (1.0 + (1079.0 / (1000.0 * 256.0)))


HLL_ALPHA_SQL = "((7213.0 / 10000.0) / (1.0 + (1079.0 / (1000.0 * 256.0))))"


def hll_registers(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The m-register HyperLogLog table ``(j, mj)`` over the corpus
    token stream (Flajolet et al. 2007).

    THE distinct-count shape for 100 TB: the exact alternative
    (count_distinct) shuffles the full vocabulary; this is one explode
    + one max-aggregate whose exchange carries at most m = 256 rows per
    task (max is mergeable — shards build registers independently and
    take the elementwise max).  No distinct, no vocab exchange, state
    fixed forever.

    Registers are a deterministic pure function of the token SET: the
    portable 48-bit md5 splits into an 8-bit register index and a
    40-bit rank word; rank = leading zeros + 1 = 41 - bit_length(w)
    (41 when w = 0) — all integer arithmetic, so the DuckDB oracle
    rebuilds the identical table.
    """
    h = md5_int(F.col("w"), seed=HLL_SEED, nibbles=12)
    occ = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .select(h.alias("_h"))
        .select(
            (F.col("_h") % HLL_M).alias("j"),
            F.expr(f"_h DIV {HLL_M}").alias("wq"),
        )
    )
    rank = F.when(F.col("wq") == 0, F.lit(41)).otherwise(
        F.lit(41) - F.length(F.bin(F.col("wq")))
    )
    return occ.select("j", rank.cast("int").alias("r")).groupBy("j").agg(
        F.max("r").alias("mj")
    )


def hll_distinct(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """HyperLogLog distinct-token estimate with the exact count
    alongside (the audit shape, like cms_heavy_hitters).

    Returns ONE row:
    ``(m, v_zeros, s41, raw_est, est, true_distinct, rel_err)`` where
    ``s41 = Σ_j 2^(41 - M_j)`` (absent registers contribute 2^41) is
    the EXACT integer form of the harmonic sum Σ 2^-M_j scaled by 2^41
    — a float sum of 256 dyadics would round (the terms span 41
    exponents), an integer sum cannot;
    ``raw_est = alpha·m²·2^41 / s41``; ``est`` applies the standard
    small-range linear-counting correction ``m·ln(m/V)`` when V > 0
    zero-registers remain and raw_est ≤ 2.5m (the portable ln chain —
    m/V is an integer ratio); the 2^32 large-range correction does not
    apply (the hash space is 40-bit and corpus vocabularies sit far
    below it — documented bound, not a silent cap).  Estimates snap to
    the 4-dp grid with floor integer math; rel_err to 6 dp.

    Cross-engine exactness: the registers and s41 are pure integers;
    the estimate arithmetic is fixed-form IEEE (+,-,*,/) mirrored
    TEXT-FOR-TEXT by the oracle SQL, with ln through
    functions/portable_ln on both sides — no libm anywhere.

    ``true_distinct`` is the vocab-shuffling exact count the sketch
    replaces — fine at bench scale for the audit; at 100 TB you would
    ship the registers alone.
    """
    from .portable_ln import py_grid_nanos, py_ln_int

    spark = docs.sparkSession
    toks = docs.select(F.explode(tokenize(F.col(text_col))).alias("w"))
    regs, true_d = concurrently(
        spark,
        hll_registers(docs, text_col).collect,
        lambda: int(toks.agg(F.count_distinct("w").alias("d")).collect()[0]["d"]),
    )

    mjs = {int(r["j"]): int(r["mj"]) for r in regs}
    s41 = sum(1 << (41 - mj) for mj in mjs.values()) + (HLL_M - len(mjs)) * (
        1 << 41
    )
    v = HLL_M - len(mjs)
    # mirrors the oracle text op for op:
    #   ((alpha * 65536.0) * 2199023255552.0) / CAST(s41 AS DOUBLE)
    raw = ((_hll_alpha() * 65536.0) * 2199023255552.0) / float(s41)
    if v > 0 and raw <= 640.0:
        est = 256.0 * (py_ln_int(HLL_M) - py_ln_int(v))
    else:
        est = raw
    raw4 = float(py_grid_nanos(raw, 4)) / 10000.0
    est4 = float(py_grid_nanos(est, 4)) / 10000.0
    if true_d > 0:
        rel = float(
            py_grid_nanos((est4 - float(true_d)) / float(true_d), 6)
        ) / 1000000.0
    else:
        rel = None
    return spark.createDataFrame(
        [(HLL_M, v, s41, raw4, est4, true_d, rel)],
        "m int, v_zeros int, s41 bigint, raw_est double, est double, "
        "true_distinct bigint, rel_err double",
    )
