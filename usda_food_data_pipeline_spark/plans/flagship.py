"""Flagship query: the reference ETL pipeline re-expressed on the star
schema (SURVEY §7 step 1).

Exercises the five core reference semantics in one plan:
  D1 dedup-latest  (orders per customer ~ branded_food per gtin_upc,
                    usda_branded_food_data_pipeline.py:68-69)
  P5/J3 semi-join  (keep orders that have lineitems ~ :85,:100)
  A1+A2 group-avg + pivot (avg l_extendedprice per (order, returnflag)
                    pivoted wide ~ :101-102)
  J1/J2 inner join chain (customer ⋈ latest-order ⋈ pivot ~ :109-110)
  F5/F6 threshold null-out + round (:116-123)
  F1 string normalize (:73-74)

Plan shape at scale: one shuffle for the dedup window (keyed on
o_custkey), one for the pivot agg (keyed on l_orderkey after a semi-join
that prunes lineitem down to surviving orders), joins on o_orderkey;
customer is a dimension → broadcast. No collect, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import grid_round_col, sql_grid_round
from ..operators.dedup import dedup_latest
from ..operators.pivot import group_avg_pivot
from ..session import own
from ..sources.tables import load_table

RETURNFLAG_VALUES = ["A", "N", "R"]
PIVOT_RENAME = {"A": "avg_price_a", "N": "avg_price_n", "R": "avg_price_r"}
# Per-column threshold rule table (reference :14-23 analog).
PRICE_THRESHOLDS = {"avg_price_a": 55000.0, "avg_price_n": 50000.0, "avg_price_r": 45000.0}


def flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    # D1: latest order per customer (o_orderkey is unique → deterministic).
    latest = dedup_latest(orders, ["o_custkey"], "o_orderkey")

    # P5/J3: keep only orders that appear in lineitem.
    latest = latest.join(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_semi"
    )
    # `latest` feeds two branches (join spine + lineitem pruning); persist
    # so the dedup window runs once. One row per customer — small at any
    # scale that has a customer dimension.
    latest = own(latest)

    # Prune lineitem to surviving orders BEFORE the pivot agg — the
    # semi-join pushdown the reference lacked (SURVEY §4).
    li = lineitem.join(
        latest.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi"
    )

    # A1+A2 (+J4 rename): avg price per (order, returnflag), pivoted wide.
    piv = group_avg_pivot(
        li, "l_orderkey", "l_returnflag", "l_extendedprice",
        RETURNFLAG_VALUES, rename=PIVOT_RENAME,
    )

    # J1/J2: customer (dim → broadcast) ⋈ latest ⋈ pivot.
    joined = (
        latest.join(F.broadcast(customer), latest.o_custkey == customer.c_custkey, "inner")
        .join(piv, latest.o_orderkey == piv.l_orderkey, "inner")
    )

    # F1 + F5 + final projection. The avg columns stay unrounded: they
    # are quotients, and rounding a quotient invites decimal-tie
    # divergence between engines (see operators.pivot docstring).
    out = joined.select(
        F.col("c_custkey").alias("customer_key"),
        F.upper(F.trim(F.col("c_name"))).alias("customer_name"),
        F.col("o_orderkey").alias("order_key"),
        grid_round_col(F.col("o_totalprice"), 2).alias("order_total"),
        *[
            F.when(F.col(c) <= F.lit(t), F.col(c)).alias(c)
            for c, t in PRICE_THRESHOLDS.items()
        ],
    )
    return out


FLAGSHIP_ORACLE_SQL = f"""
WITH latest AS (
    SELECT * FROM (
        SELECT o.*, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        FROM orders o
    ) WHERE rn = 1
),
latest_li AS (
    SELECT * FROM latest WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
),
piv AS (
    SELECT l_orderkey,
        CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
              / count(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS avg_price_a,
        CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
              / count(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS avg_price_n,
        CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
              / count(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS avg_price_r
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM latest_li)
    GROUP BY l_orderkey
)
SELECT
    c.c_custkey AS customer_key,
    upper(trim(c.c_name)) AS customer_name,
    o.o_orderkey AS order_key,
    {sql_grid_round('o.o_totalprice', 2)} AS order_total,
    CASE WHEN p.avg_price_a <= 55000.0 THEN p.avg_price_a END AS avg_price_a,
    CASE WHEN p.avg_price_n <= 50000.0 THEN p.avg_price_n END AS avg_price_n,
    CASE WHEN p.avg_price_r <= 45000.0 THEN p.avg_price_r END AS avg_price_r
FROM latest_li o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN piv p ON p.l_orderkey = o.o_orderkey
"""
