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


def _names(node: ast.AST):
    """Every name a node uses: loads, attribute names and import aliases."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")


def test_every_package_def_is_reached_from_a_user_surface():
    """Every top-level package ``def``/``class`` is reached, transitively
    by name, from a user surface: a ``@register`` query, a public
    ``api`` function, ``__main__.main``, a module-level statement, or
    ``__spark_entry__.py``, ``bench.py``, ``tools/`` and ``perfbench/``.
    A function only tests call is a second surface with no traffic."""
    repo = os.path.dirname(_PKG)
    defs: dict[str, list] = {}
    roots: set[str] = set()
    for rel, tree in _package_modules():
        for stmt in tree.body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                roots.update(_names(stmt))
                continue
            defs.setdefault(stmt.name, []).append((rel, stmt))
            for d in stmt.decorator_list:
                roots.update(_names(d))
                if isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register":
                    roots.add(stmt.name)
            if (rel == "api.py" and not stmt.name.startswith("_")) or (
                rel == "__main__.py" and stmt.name == "main"
            ):
                roots.add(stmt.name)
    scripts = [os.path.join(repo, f) for f in ("__spark_entry__.py", "bench.py")]
    for d in ("tools", "perfbench"):
        scripts += sorted(
            os.path.join(repo, d, f) for f in os.listdir(os.path.join(repo, d)) if f.endswith(".py")
        )
    for path in scripts:
        with open(path) as fh:
            roots.update(_names(ast.parse(fh.read())))

    reached, todo = set(), [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [m for _, node in defs[name] for m in _names(node) if m in defs]
    unreached = sorted(
        f"{rel}:{node.lineno} {name}"
        for name, found in defs.items()
        if name not in reached
        for rel, node in found
    )
    assert not unreached, f"package defs no user surface reaches: {unreached}"
