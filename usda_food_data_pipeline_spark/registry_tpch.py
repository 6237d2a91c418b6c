"""TPC-H sweep completion: the seven query shapes (Q2, Q9, Q11, Q12,
Q16, Q20, Q21) not yet represented in the registry.

The synthetic star schema has no ``partsupp`` table and no
commit/receipt dates on ``lineitem``, so — like the existing
``tpch_q7_nation_volume`` / ``tpch_q8_market_share`` adaptations —
each query keeps the ORIGINAL's plan shape (correlated argmin,
multi-way profit join, group-HAVING against a global scalar,
conditional class counts, NOT-IN distinct counts, nested-aggregate
semi join, exists/not-exists self joins) against the columns that do
exist:

- the part-supplier "catalog" is derived from ``lineitem``
  (unit price = ``l_extendedprice / l_quantity`` — a single IEEE-754
  division, bit-identical across engines);
- "late" substitutes for ``l_receiptdate > l_commitdate``:
  ``l_shipdate > o_orderdate + 90 days`` (exact timestamp integer
  arithmetic on both engines).

Cross-engine exactness follows the house rules (registry.py header):
money aggregates go through DECIMAL casts before summing, fractions
compare by exact-decimal cross-multiplication (never a float
quotient on the predicate path), and quantities — integral by data
contract, 1..50 — cast to BIGINT before summing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register
from .session import own
from .sources.tables import load_table

_LATE_DAYS = 90
_HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


def _eu_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in EUROPE with their nation name (tiny: broadcast side)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = load_table(spark, sf_dir, "supplier")
    nk = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return supp.join(F.broadcast(nk), supp.s_nationkey == nk.n_nationkey)


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: min-cost supplier per part (correlated argmin subquery)
# ---------------------------------------------------------------------------

TPCH_Q2_ORACLE = """
WITH eu AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
),
ps AS (
    SELECT l_partkey AS partkey, l_suppkey AS suppkey,
           min(l_extendedprice / l_quantity) AS cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
ranked AS (
    SELECT ps.partkey, ps.suppkey, ps.cost,
           row_number() OVER (PARTITION BY ps.partkey
                              ORDER BY ps.cost, ps.suppkey) AS rn
    FROM ps JOIN eu ON eu.s_suppkey = ps.suppkey
)
SELECT p_partkey AS part_key, p_brand AS brand, s_name AS supplier_name,
       n_name AS nation_name, s_acctbal AS acct_bal, cost
FROM ranked
JOIN part ON p_partkey = ranked.partkey
JOIN eu ON eu.s_suppkey = ranked.suppkey
WHERE rn = 1 AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 30
"""


@register(
    "tpch_q2_min_cost_supplier",
    TPCH_Q2_ORACLE,
    "cheapest regional supplier per part: correlated-min subquery as a "
    "window argmin (TPC-H Q2 shape, partsupp derived from lineitem)",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated ``ps_supplycost = (SELECT min ...)`` becomes one
    window argmin over the region-filtered catalog — no second scan and
    no self join. The catalog aggregate shuffles lineitem once on
    (partkey, suppkey); the argmin window reuses the partkey-prefixed
    partitioning (AQE coalesces); supplier/nation/region and the
    filtered part dim broadcast. Unit price is a single IEEE division,
    so min/tie-order are bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 30)
    )
    eu = _eu_suppliers(spark, sf_dir).select("s_suppkey", "s_name", "s_acctbal", "n_name")

    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    ranked = ps.join(F.broadcast(eu), ps.suppkey == eu.s_suppkey, "left_semi").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("partkey").orderBy(F.col("cost"), F.col("suppkey"))
        ),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(F.broadcast(part), ranked.partkey == part.p_partkey)
        .join(F.broadcast(eu), ranked.suppkey == eu.s_suppkey)
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation_name"),
            F.col("s_acctbal").alias("acct_bal"),
            "cost",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit by supplier nation and year
# ---------------------------------------------------------------------------

TPCH_Q9_ORACLE = """
SELECT nation, o_year,
       CAST(sum(amount) AS DOUBLE) AS sum_profit, count(*) AS n_rows
FROM (
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
             - CAST(l_quantity * p_retailprice AS DECIMAL(30,6)) AS amount
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
) GROUP BY nation, o_year
"""


@register(
    "tpch_q9_profit",
    TPCH_Q9_ORACLE,
    "product-line profit by supplier nation and order year "
    "(TPC-H Q9 shape; cost = retail price x quantity in lieu of partsupp)",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-dim star join where the LIKE-filtered part dim broadcasts
    and prunes lineitem FIRST (the selective edge), then orders joins
    on the surviving keys. Revenue and cost each go through one
    double multiply (bit-deterministic) into DECIMAL(30,6); their
    difference and the group sum are exact decimal, cast to double
    once at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")

    sn = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")
    cost = (F.col("l_quantity") * F.col("p_retailprice")).cast("decimal(30,6)")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == F.col("o_orderkey"))
    )
    return (
        j.select("nation", F.year("o_orderdate").cast("int").alias("o_year"),
                 (rev - cost).alias("amount"))
        .groupBy("nation", "o_year")
        .agg(
            F.sum("amount").cast("double").alias("sum_profit"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: important parts by regional inventory value
# ---------------------------------------------------------------------------

TPCH_Q11_ORACLE = """
WITH eu_lines AS (
    SELECT l_partkey,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS amount
    FROM lineitem
    WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE')
),
per_part AS (
    SELECT l_partkey AS part_key, sum(amount) AS val FROM eu_lines GROUP BY l_partkey
),
total AS (SELECT sum(val) AS tot, count(*) AS npart FROM per_part)
SELECT part_key, CAST(val AS DOUBLE) AS value
FROM per_part, total
WHERE CAST(val AS DECIMAL(25,6)) * CAST(2 * npart AS DECIMAL(12,0))
    > CAST(tot AS DECIMAL(36,6)) * CAST(3 AS DECIMAL(1,0))
"""


@register(
    "tpch_q11_important_parts",
    TPCH_Q11_ORACLE,
    "parts whose regional trade value exceeds 1.5x the mean part value: "
    "group-HAVING against a global scalar aggregate (TPC-H Q11 shape)",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HAVING-vs-global-scalar predicate cross-multiplies in exact
    decimal — the float quotient form would put boundary parts at ULP
    risk (the attested Q22 pattern). Official Q11 fixes the fraction at
    0.0001/SF precisely because a constant fraction goes vacuous as
    part cardinality grows (the r09 finding: 1/1000 returned 0 rows at
    sf>=0.1); this shape folds the same scaling in data-adaptively by
    comparing each part against the MEAN part value
    (``val > 1.5 * tot / npart``  <=>  ``2*val*npart > 3*tot``) — a
    scale-invariant threshold that keeps real boundary rows at every
    tested sf (14 / 94 / 535+ rows at sf0.001/0.01/0.1). Every operand
    is cast so both products land exactly at precision <= 38 on both
    engines: val DECIMAL(25,6) x DECIMAL(12,0) and tot DECIMAL(36,6) x
    DECIMAL(1,0) (no version-dependent BIGINT x DECIMAL promotion —
    the lm/dsir lesson). Headroom allocation (r10 ADVICE): per-part
    value is SF-INVARIANT in TPC-H (~30 lineitems/part regardless of
    sf, real val ~1e5 currency units vs the 1e13 the (25,6) downcast
    admits — 8 orders of margin), while npart GROWS with sf, so the
    wide factor goes to npart ((12,0): 2*npart < 1e12, i.e. ~250 PB of
    parts). Beyond those bounds the engines diverge loudly on the
    oracle side (DuckDB raises on downcast overflow) while non-ANSI
    Spark would null-and-drop — the bounds are documented contract,
    8+ orders above any reachable value. The global total
    re-aggregates the tiny per-part table (no second lineitem scan)
    and broadcasts as a 1-row join."""
    li = load_table(spark, sf_dir, "lineitem")
    eu = _eu_suppliers(spark, sf_dir).select("s_suppkey")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")
    # persisted: the global total and the HAVING filter both consume
    # this part-cardinality aggregate — without the cache Spark has no
    # CTE materialization and the total's subtree RE-SCANS the lineitem
    # fact (two full fact scans at 100 TB, seen in the executed plan)
    per_part = own(
        li.join(F.broadcast(eu), li.l_suppkey == eu.s_suppkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.sum(amount).alias("val"))
    )
    total = per_part.agg(
        F.sum("val").alias("tot"), F.count(F.lit(1)).alias("npart")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("val").cast("decimal(25,6)")
            * (F.lit(2) * F.col("npart")).cast("decimal(12,0)")
            > F.col("tot").cast("decimal(36,6)") * F.lit(3).cast("decimal(1,0)")
        )
        .select("part_key", F.col("val").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: priority class counts over late shipments
# ---------------------------------------------------------------------------

TPCH_Q12_ORACLE = f"""
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN NULL ELSE 1 END) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
GROUP BY year(l_shipdate)
"""


@register(
    "tpch_q12_late_priority",
    TPCH_Q12_ORACLE,
    "urgent-vs-other order counts among late-shipped lines by year "
    "(TPC-H Q12 shape; lateness stands in for the ship-mode column)",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-integer conditional aggregation — conditional COUNTs (not
    SUM of CASE ints: DuckDB widens integer SUM to HUGEINT, COUNT stays
    BIGINT on both engines). The late predicate is timestamp integer arithmetic
    (no float date math) and runs as a post-join filter since it needs
    both sides; the join itself is the plain orderkey shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # coalesce: a NULL o_orderpriority must count as LOW (the oracle's
    # CASE ... ELSE 1 counts NULL-priority rows as low; bare ~high is
    # NULL there and F.count would silently drop the row)
    high = F.coalesce(
        F.col("o_orderpriority").isin(*_HIGH_PRIORITIES), F.lit(False)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAYS"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: distinct supplier counts per part attribute group
# ---------------------------------------------------------------------------

_Q16_SIZES = (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)

TPCH_Q16_ORACLE = f"""
SELECT p_brand AS brand, p_type AS type, p_size AS size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN ({", ".join(str(s) for s in _Q16_SIZES)})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
"""


@register(
    "tpch_q16_supplier_counts",
    TPCH_Q16_ORACLE,
    "distinct suppliers per part attribute group, excluding flagged "
    "suppliers via NOT IN (TPC-H Q16 shape; lineitem as the part-supplier link)",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT-IN subquery is a broadcast anti join (supplier keys are
    non-null by schema, so anti == NOT IN); the filtered part dim
    broadcasts and prunes before the distinct-count shuffle. COUNT
    DISTINCT is exact — Spark expands it map-side, so the shuffle
    carries (group, suppkey) pairs, not raw lines."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("PROMO")
        & F.col("p_size").isin(*_Q16_SIZES)
    )
    flagged = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(F.broadcast(flagged), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers with excess recent volume (nested semi join)
# ---------------------------------------------------------------------------

TPCH_Q20_ORACLE = """
WITH cold AS (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%'),
vol AS (
    SELECT l_suppkey,
           sum(CASE WHEN year(l_shipdate) = 1997
                    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q97,
           sum(CAST(l_quantity AS BIGINT)) AS qtot
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM cold)
    GROUP BY l_suppkey
)
SELECT s_name AS supplier_name, n_name AS nation_name
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM vol WHERE 7 * q97 > qtot)
"""


@register(
    "tpch_q20_excess_suppliers",
    TPCH_Q20_ORACLE,
    "suppliers whose 1997 'cold'-part volume exceeds 1/7 of their all-time "
    "volume: semi join against a nested aggregate (TPC-H Q20 shape)",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's ``availqty > 0.5 * sum(qty)`` becomes the exact integer
    cross-multiply ``7 * q97 > qtot`` (the ship range spans ~7 years,
    so the bar is "an above-uniform 1997 share") — quantities are
    integral by the data contract (1..50), so the BIGINT cast is
    lossless on both engines (DuckDB rounds, Spark truncates;
    identical on integers).
    Both period sums come from ONE scan via conditional aggregation
    instead of two subqueries; the qualifying-supplier set semi-joins
    the tiny supplier dim."""
    li = load_table(spark, sf_dir, "lineitem")
    cold = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("cold")
    ).select(F.col("p_partkey").alias("l_partkey"))
    qty = F.col("l_quantity").cast("bigint")
    vol = (
        li.join(F.broadcast(cold), "l_partkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(F.year("l_shipdate") == 1997, qty).otherwise(F.lit(0))).alias("q97"),
            F.sum(qty).alias("qtot"),
        )
        .filter(7 * F.col("q97") > F.col("qtot"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(vol, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation_name"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who kept multi-supplier orders waiting
# ---------------------------------------------------------------------------

TPCH_Q21_ORACLE = f"""
WITH j AS (
    SELECT l_orderkey, l_suppkey, l_linenumber, o_orderstatus,
           l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY AS late
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT s_name AS supplier_name, count(*) AS numwait
FROM j l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.late AND l1.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM j l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM j l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
"""


@register(
    "tpch_q21_waiting_suppliers",
    TPCH_Q21_ORACLE,
    "sole-late supplier per finished multi-supplier order, counted per "
    "supplier: EXISTS + NOT EXISTS self joins (TPC-H Q21 shape)",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both correlated probes reduce to per-order aggregates (r09
    verdict task 4 — the former fact-fact SMJ LeftSemi/LeftAnti with
    the supplier inequality as residual was correct but superlinear,
    6x at 10x data, because semi/anti fan-in on orderkey grows with
    the square of lines-per-order):

    - EXISTS "another supplier on the order"  <=>  the order has >= 2
      distinct suppliers — one groupBy(orderkey) countDistinct over
      raw lineitem;
    - NOT EXISTS "another LATE supplier"  <=>  the order's distinct
      late-supplier count is exactly 1 (l1 itself is late, so the sole
      late supplier is necessarily l1's) — one groupBy(orderkey)
      countDistinct over the late lines.

    Each probe becomes a fact->aggregate equi semi-join whose build
    side is one row per qualifying order, so the join fan-in is linear
    in orders regardless of lines-per-order. The EXISTS aggregate
    reads raw lineitem — "another supplier on the order" needs no
    orders columns. RI-independence (closes ADVICE r09/r10): the raw
    probe is consumed ONLY through the semi-join from ``l1``, and
    every l1 orderkey has an orders row by construction (l1 is
    derived from the join), so for every key the probe can actually
    match, its lineitem rows and the oracle's joined-view rows are
    the same set — countDistinct agrees exactly (and, being
    duplication-insensitive, agrees even under duplicate orderkeys).
    An orphan l_orderkey can appear in the probe table but is never
    matched; deriving the probe from the joined view would add a
    second full fact-fact join purely to drop rows that are already
    unreachable. The late view is
    recomputed per consumer as a column-pruned scan rather than
    persisted (caching would pin the subtree's partitioning against
    AQE — the round-9 containment A/B lesson). Lateness is the same
    exact timestamp predicate as tpch_q12_late_priority."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {_LATE_DAYS} DAYS"
    )
    # late lines only — the post-join filter keeps the l1/sole-late
    # inputs at the late fraction of the fact
    late_lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(late)
        .select("l_orderkey", "l_suppkey", "o_orderstatus")
    )
    l1 = late_lines.filter(F.col("o_orderstatus") == "F").select(
        "l_orderkey", "l_suppkey"
    )
    multi_supplier = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("_ns"))
        .filter(F.col("_ns") >= 2)
        .select(F.col("l_orderkey").alias("o2"))
    )
    sole_late = (
        late_lines.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("_nl"))
        .filter(F.col("_nl") == 1)
        .select(F.col("l_orderkey").alias("o3"))
    )
    waiting = (
        l1.join(multi_supplier, l1.l_orderkey == F.col("o2"), "left_semi")
        .join(sole_late, l1.l_orderkey == F.col("o3"), "left_semi")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return (
        waiting.join(F.broadcast(supp), "l_suppkey")
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
