"""Distributed global prefix sum: exactness + no single-partition window."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.operators.prefix import (
    global_prefix_sum,
    token_budget_select,
)


def test_prefix_sum_matches_single_partition_window(spark):
    rows = [(i, (i * 37) % 11, 1 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "grp", "v"]).repartition(16)
    order = [F.col("grp").desc(), F.col("id")]
    got = {
        r["id"]: r["cum"]
        for r in global_prefix_sum(df, order, "v", num_partitions=8).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    exp = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == exp


def test_prefix_sum_plan_has_no_global_window(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(100)], ["id", "v"])
    out = global_prefix_sum(df, [F.col("id")], "v", num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window node must carry a partition spec (the _pid hash) —
    # a bare "Window [..], [id ASC...]" with no partitionBy is the
    # single-partition trap this operator exists to avoid
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, line
    assert "SinglePartition" not in plan


def test_prefix_sum_output_reads_the_collected_partitioning(spark):
    """ADVICE r06 (high) + r07 (medium): the pid→offset map is
    collected from one execution of the range exchange; the returned
    DataFrame must read the SAME materialized partitioning.  Since r08
    that pin is a ``localCheckpoint`` (LogicalRDD scan, lineage CUT —
    re-executing repartitionByRange is impossible by construction).
    The query run owns it: every read inside the run sees the collected
    partitioning, and once the run has freed it a read raises rather
    than re-running the exchange (the r07 failure mode: stale offsets
    against a re-sampled exchange)."""
    from usda_food_data_pipeline_spark.session import QueryRun

    df = spark.createDataFrame([(i, i % 3) for i in range(100)], ["id", "v"])
    want = {i: sum(j % 3 for j in range(i + 1)) for i in range(100)}
    with QueryRun():
        out = global_prefix_sum(df, [F.col("id")], "v", num_partitions=4)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # lineage is cut: the plan bottoms out in a checkpointed RDD scan,
        # with no Exchange / repartitionByRange left to re-execute
        assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
        assert "RepartitionByExpression" not in plan, plan
        for _ in range(2):
            assert {r["id"]: r["cum"] for r in out.collect()} == want
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        out.collect()


def test_token_budget_boundary(spark):
    # equal scores force doc_id tie-break; budget 3/10 of 40 tokens = 12
    # tokens -> docs 1 (4 toks) + 2 (4 toks) + 3 (4 toks) fit exactly
    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(1, 11)],
        ["doc_id", "text"],
    )
    out = sorted(
        token_budget_select(docs).collect(), key=lambda r: r["doc_id"]
    )
    ids = [r["doc_id"] for r in out]
    assert ids == [1, 2, 3]  # 12-token budget, inclusive prefix
    assert [r["cum_toks"] for r in out] == [4, 8, 12]


def test_table_checksum_order_independent_and_sensitive(spark):
    from usda_food_data_pipeline_spark.operators.merge import table_checksum

    rows = [(i % 3, f"v{i}", i * 7) for i in range(200)]
    a = spark.createDataFrame(rows, ["g", "s", "x"]).repartition(13)
    b = spark.createDataFrame(list(reversed(rows)), ["g", "s", "x"]).repartition(2)
    prep = lambda df: df.selectExpr("g", "s", "cast(x as string) as xs")
    ca = {r["g"]: (r["n_rows"], r["checksum"]) for r in
          table_checksum(prep(a), ["g"], ["s", "xs"]).collect()}
    cb = {r["g"]: (r["n_rows"], r["checksum"]) for r in
          table_checksum(prep(b), ["g"], ["s", "xs"]).collect()}
    assert ca == cb  # partitioning- and order-independent

    mutated = [(g, s, x + 1 if (g, s) == (1, "v1") else x) for g, s, x in rows]
    c = spark.createDataFrame(mutated, ["g", "s", "x"])
    cc = {r["g"]: (r["n_rows"], r["checksum"]) for r in
          table_checksum(prep(c), ["g"], ["s", "xs"]).collect()}
    assert cc[1] != ca[1] and cc[0] == ca[0] and cc[2] == ca[2]


def test_tpch_q15_returns_all_tied_max_suppliers(spark, tmp_path):
    # two suppliers with IDENTICAL quarterly revenue must BOTH return —
    # the =max tie set is the reason revenue aggregates as exact decimal
    import datetime

    li = spark.createDataFrame(
        [
            (1, 10, 100.0, 0.1, datetime.datetime(1996, 2, 1)),
            (2, 10, 50.0, 0.1, datetime.datetime(1996, 2, 2)),
            (3, 20, 135.0, 0.0, datetime.datetime(1996, 2, 3)),  # = 90+45
            (4, 30, 1.0, 0.0, datetime.datetime(1996, 2, 4)),
            (5, 30, 1.0, 0.0, datetime.datetime(1999, 2, 4)),  # outside window
        ],
        ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    supp = spark.createDataFrame(
        [(10, "alpha", 0, 0.0), (20, "beta", 0, 0.0), (30, "gamma", 0, 0.0)],
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    out_dir = str(tmp_path / "sf")
    li.write.parquet(out_dir + "/lineitem.parquet")
    supp.write.parquet(out_dir + "/supplier.parquet")

    from usda_food_data_pipeline_spark.registry_ext import q_tpch_q15

    rows = {r["s_suppkey"]: r for r in q_tpch_q15(spark, out_dir).collect()}
    # supplier 10: 100*0.9 + 50*0.9 = 135.0 exactly == supplier 20's 135.0
    assert set(rows) == {10, 20}
    assert rows[10]["total_revenue"] == rows[20]["total_revenue"] == 135.0


def test_retention_cohorts_hand_values(spark, tmp_path):
    import datetime as dt

    # 2026-08-10 is a Monday (week start); user 1 starts that week and
    # returns in weeks +0, +1, +3; user 2 starts week +1, returns +1 only
    ev = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2026, 8, 11, 9), "a", 0.0, "{}"),
            (2, 1, dt.datetime(2026, 8, 15, 9), "a", 0.0, "{}"),   # same week
            (3, 1, dt.datetime(2026, 8, 18, 9), "a", 0.0, "{}"),   # +1
            (4, 1, dt.datetime(2026, 9, 2, 9), "a", 0.0, "{}"),    # +3
            (5, 2, dt.datetime(2026, 8, 19, 9), "a", 0.0, "{}"),
            (6, 2, dt.datetime(2026, 8, 20, 9), "a", 0.0, "{}"),   # same week
        ],
        ["event_id", "user_id", "ts", "event_type", "value", "props"],
    )
    out = str(tmp_path / "sf")
    ev.write.parquet(out + "/events.parquet")

    from usda_food_data_pipeline_spark.registry_ext import q_retention_cohorts

    got = {
        (str(r["cohort_week"]), r["offset_weeks"]): r["n_users"]
        for r in q_retention_cohorts(spark, out).collect()
    }
    assert got == {
        ("2026-08-10", 0): 1,
        ("2026-08-10", 1): 1,
        ("2026-08-10", 3): 1,
        ("2026-08-17", 0): 1,
    }
