"""Physical-layout tests: bucketing and partitioned layout — the
co-located-join story for 100 TB (README 'Design for 100 TB')."""

from __future__ import annotations

import ast
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def warehouse(spark):
    d = tempfile.mkdtemp(prefix="wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
    for t in ["b_orders", "b_lineitem"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, warehouse):
    """Pre-bucketing both fact tables on the join key removes the
    exchange from the join plan entirely — the layout decision that
    matters most at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.mode("overwrite")
        .option("path", f"{warehouse}/b_orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        lineitem.withColumn("o_orderkey", F.col("l_orderkey"))
        .write.mode("overwrite")
        .option("path", f"{warehouse}/b_lineitem")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_lineitem")
    )
    # disable broadcast so the planner must pick sort-merge — the point
    # is that bucketing removes the shuffle a fact-fact SMJ would need
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_layout_prunes(spark, sf_dir, warehouse):
    """partitionBy layout + a partition-key filter must prune files:
    the filtered scan reads only the matching directory."""
    docs = load_table(spark, sf_dir, "documents")
    out = f"{warehouse}/docs_by_lang"
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan or "lang#" in plan
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_csv_source_schema_on_read(spark, sf_dir, warehouse):
    """S4: the reference's input format is CSV with inferred types; the
    engine reads CSV with an explicit schema (schema-on-read, no
    inference job) and produces identical query results to parquet."""
    from usda_food_data_pipeline_spark.registry import queries

    li = load_table(spark, sf_dir, "lineitem")
    out = f"{warehouse}/lineitem_csv"
    li.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(li.schema).option("header", True).csv(out)
    assert back.schema == li.schema
    from usda_food_data_pipeline_spark.functions.cleaning import deterministic_sum

    a = li.agg(deterministic_sum("l_extendedprice").alias("s")).collect()[0]["s"]
    b = back.agg(deterministic_sum("l_extendedprice").alias("s")).collect()[0]["s"]
    assert a == b


def test_orc_and_json_roundtrip(spark, sf_dir, warehouse):
    """Source/sink matrix: ORC and JSON-lines round-trips with explicit
    schemas produce identical deterministic aggregates to parquet."""
    from usda_food_data_pipeline_spark.functions.cleaning import deterministic_sum

    orders = load_table(spark, sf_dir, "orders")
    want = orders.agg(deterministic_sum("o_totalprice").alias("s")).collect()[0]["s"]

    orc_path = f"{warehouse}/orders_orc"
    orders.write.mode("overwrite").orc(orc_path)
    got_orc = (
        spark.read.orc(orc_path).agg(deterministic_sum("o_totalprice").alias("s"))
        .collect()[0]["s"]
    )
    assert got_orc == want

    json_path = f"{warehouse}/orders_json"
    orders.write.mode("overwrite").json(json_path)
    got_json = (
        spark.read.schema(orders.schema).json(json_path)
        .agg(deterministic_sum("o_totalprice").alias("s"))
        .collect()[0]["s"]
    )
    assert got_json == want


def test_ivf_partitioned_index_prunes_and_matches(spark, sf_dir, warehouse):
    """The IVF serving layout: index partitioned by centroid_id, probe
    reads ONLY the matching partition (PartitionFilters, 1/C of files)
    and returns exactly what the in-memory IVF path returns."""
    from pyspark.sql import functions as F

    from usda_food_data_pipeline_spark.operators.similarity import (
        ivf_search_index,
        ivf_topk,
        write_ivf_index,
    )
    from usda_food_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    path = f"{warehouse}/ivf_index"
    write_ivf_index(emb, centroids, path)

    got = ivf_search_index(spark, path, centroids, query, k=10, nprobe=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200]

    want = [
        (r["vec_id"], r["score"])
        for r in ivf_topk(emb, centroids, query, k=10).collect()
    ]
    assert [(r["vec_id"], r["score"]) for r in got.collect()] == want


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path_factory):
    """Co-located join via bucketing: both sides bucketed by the join
    key into the same bucket count -> SortMergeJoin with no Exchange on
    either side (the 100 TB repeated-join layout)."""
    from pyspark.sql import functions as F

    from usda_food_data_pipeline_spark.sources.sinks import write_bucketed_table
    from usda_food_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed_table(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                         "orders_b", "o_custkey")
    write_bucketed_table(customer.select("c_custkey", "c_name"), "customer_b", "c_custkey")
    try:
        ob, cb = spark.table("orders_b"), spark.table("customer_b")
        joined = ob.join(
            cb.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        ).groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
        # broadcast would hide the bucketing property — force SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined.write.format("noop").mode("overwrite").save()
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "SortMergeJoin" in plan
        # the join itself needs no shuffle; the only exchange permitted
        # is the final single-partition collect-side agg (none keyed on
        # the bucket column's join)
        assert plan.count("Exchange hashpartitioning") == 0
        # sanity: same result as the plain-parquet join
        expect = (
            orders.join(
                customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
            ).groupBy("o_custkey").count().count()
        )
        assert joined.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_zorder_write_skips_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order clustering bounds every output file to a tight
    hyper-rectangle: per-file min/max spans on BOTH clustered columns
    shrink far below the unclustered layout's, which is exactly what
    parquet footer-stats pruning consumes at scan time."""
    import glob

    import pyarrow.parquet as pq

    from usda_food_data_pipeline_spark.sources.sinks import write_zorder

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    cols = ["o_custkey", "o_totalprice"]
    write_zorder(orders, zpath, cols, n_files=16)
    orders.repartition(16).write.parquet(rpath)

    bounds = {
        c: (v0, v1)
        for c, v0, v1 in (
            (c, *orders.agg(F.min(c), F.max(c)).first()) for c in cols
        )
    }

    def mean_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            g0, g1 = bounds[col]
            spans.append((hi - lo) / (g1 - g0))
        return sum(spans) / len(spans)

    for c in cols:
        z, r = mean_span(zpath, c), mean_span(rpath, c)
        # random layout: every file spans ~the full domain (~1.0);
        # z-ordered: 16 files over a 2-D morton curve -> each axis
        # span should at least halve
        assert r > 0.9, f"{c}: baseline unexpectedly clustered ({r})"
        assert z < 0.55, f"{c}: z-order span {z} not clustered"


def test_zorder_requires_two_columns(spark):
    from usda_food_data_pipeline_spark.sources.sinks import zorder_key

    with pytest.raises(ValueError):
        zorder_key(["only_one"], {"only_one": (0, 1)})


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark 4's runtime row-filter injection (r11): a selective filter
    on the dim side of a shuffle join materializes a bloom filter and
    pushes a might_contain() predicate into the FACT side's scan —
    rows that cannot join are dropped before the exchange.  At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the matching fraction.  Pinned here with the broadcast
    path disabled (broadcast joins don't need the bloom) and the
    application-side size threshold floored for test-scale data."""
    old = {}
    for k, v in {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "usda_food_data_pipeline_spark"
)


def _package_modules(*subdirs: str):
    roots = [os.path.join(_PKG, d) for d in subdirs] or [_PKG]
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    with open(path) as fh:
                        yield os.path.relpath(path, _PKG), ast.parse(fh.read())


def _calls(node: ast.AST, method: str):
    for n in ast.walk(node):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == method:
            yield n


def test_every_persist_has_one_owner():
    """A ``.persist()`` outside ``session.own`` must be assigned to a name
    that a ``finally`` of the same function unpersists (the
    eager-operator rule); every other persist goes through ``own()`` so
    a query run releases it."""
    bad = []
    for rel, tree in _package_modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or (rel == "session.py" and fn.name == "own"):
                continue
            released = {
                c.func.value.id
                for t in ast.walk(fn)
                if isinstance(t, ast.Try)
                for stmt in t.finalbody
                for c in _calls(stmt, "unpersist")
                if isinstance(c.func.value, ast.Name)
            }
            owned = {
                id(c)
                for s in ast.walk(fn)
                if isinstance(s, ast.Assign)
                and {t.id for t in s.targets if isinstance(t, ast.Name)} & released
                for c in _calls(s.value, "persist")
            }
            bad += [f"{rel}:{c.lineno} {fn.name}" for c in _calls(fn, "persist") if id(c) not in owned]
    assert not bad, f"persist() without an owner: {bad}"


def test_no_module_level_mutable_state_in_operators_or_functions():
    """Operators and functions hold no state between calls: no
    ``global`` rebinding, and module-level names are immutable
    constants (literals, tuples, frozen mappings, compiled patterns)."""
    allowed_calls = {"MappingProxyType", "compile", "frozenset"}
    bad = []
    for rel, tree in _package_modules("operators", "functions"):
        bad += [f"{rel}:{n.lineno} global" for n in ast.walk(tree) if isinstance(n, ast.Global)]
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                targets, value = [stmt.target], stmt.value
            else:
                continue
            if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
                continue
            mutable = isinstance(
                value, (ast.List, ast.Dict, ast.Set, ast.ListComp, ast.DictComp, ast.SetComp)
            )
            if isinstance(value, ast.Call):
                f = value.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                mutable = name not in allowed_calls
            if mutable:
                bad.append(f"{rel}:{stmt.lineno} {ast.unparse(targets[0])}")
    assert not bad, f"module-level mutable state: {bad}"
