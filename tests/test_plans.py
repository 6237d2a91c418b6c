"""Plan-shape regression tests: the physical properties PLANS.md claims
must keep holding (pushdown, pruning, broadcast, rank-limit, heap
top-k)."""

from __future__ import annotations

import pytest

from usda_food_data_pipeline_spark.registry import queries


def plan_of(spark, name, sf_dir):
    df = queries()[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "tpch_q6", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_tax" not in plan  # unused columns pruned from the scan


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, "tpch_q5", sf_dir)
    assert plan.count("BroadcastExchange") >= 3  # supplier/nation/region at minimum
    assert "GreaterThanOrEqual(o_orderdate" in plan  # date filter pushed to scan


def test_dedup_latest_rank_limit_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, "dedup_latest_order", sf_dir)
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_cosine_topk_is_heap_based(spark, sf_dir):
    plan = plan_of(spark, "cosine_topk", sf_dir)
    assert "TakeOrderedAndProject(limit=10" in plan
    assert "Exchange hashpartitioning" not in plan  # no data shuffle at all


def _scoring_projection(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return next(ln for ln in plan.splitlines() if "Project [" in ln and " AS score#" in ln)


def test_cosine_topk_scoring_projection(spark):
    """Per row, cosine_topk folds twice (the dot with the query and the
    row's own norm); the query's norm is computed once, on the driver for
    a vector or on the broadcast row for a DataFrame. An array<double>
    column is scored as is; an array<float> one is cast once per row, in
    a projection below the scoring one (the query row's likewise), and
    scores as its array<double> copy does. The same holds for the
    pairwise scorers ivf_assign and knn_join."""
    from usda_food_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        knn_join,
    )

    rows = [(i, [float(i), 1.0, 2.0]) for i in range(20)]
    results = {}
    for elem in ("double", "float"):
        emb = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
        for query in (emb.filter("vec_id = 3"), [3.0, 1.0, 2.0]):
            top = cosine_topk(emb, query, k=5)
            proj = _scoring_projection(top)
            assert proj.count("aggregate(") == 2
            assert "zip_with(_qvec" not in proj
            assert "transform(" not in proj
            casts = top._jdf.queryExecution().sparkPlan().toString().count("transform(")
            assert casts == (0 if elem == "double" else 1 if isinstance(query, list) else 2)
            results.setdefault(isinstance(query, list), []).append(top.collect())
    for double_rows, float_rows in results.values():
        assert double_rows == float_rows

    # the pairwise scorers cast once per input row on each side of the
    # cross join, never per scored pair
    pairwise = {}
    for elem in ("double", "float"):
        emb = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
        few = emb.filter("vec_id < 3")
        for name, out in (
            ("ivf_assign", ivf_assign(emb, few.withColumnRenamed("vec_id", "centroid_id"))),
            ("knn_join", knn_join(few, emb)),
        ):
            casts = out._jdf.queryExecution().sparkPlan().toString().count("transform(")
            assert casts == (0 if elem == "double" else 2), (name, elem, casts)
            pairwise.setdefault(name, []).append(
                sorted(out.drop("embedding").collect())
            )
    for double_rows, float_rows in pairwise.values():
        assert double_rows == float_rows


def test_range_join_is_bucketed_hash_join(spark, sf_dir):
    plan = plan_of(spark, "range_join_bands", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # fact scan pruned to the two needed columns
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_decontaminate_broadcasts_benchmark_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, "decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan  # benchmark shingle index broadcast
    assert "SortMergeJoin" not in plan
    # the only hash exchange is the (doc, bench) count agg — corpus
    # text never shuffles
    assert plan.count("Exchange hashpartitioning") == 1


def test_mix_sampling_broadcasts_rates_no_corpus_shuffle(spark, sf_dir):
    plan = plan_of(spark, "mix_sampling", sf_dir)
    assert "BroadcastHashJoin" in plan  # rates dim broadcast
    assert "SortMergeJoin" not in plan


def test_vocab_topk_is_heap_based_single_token_shuffle(spark, sf_dir):
    plan = plan_of(spark, "vocab_topk", sf_dir)
    assert "TakeOrderedAndProject(limit=100" in plan
    # one exchange for the token count agg; the rank window runs on the
    # k-row result after the limit
    assert plan.count("Exchange hashpartitioning") == 1


def test_chunk_documents_no_shuffle_no_udf(spark, sf_dir):
    plan = plan_of(spark, "chunk_documents", sf_dir)
    assert "Exchange hashpartitioning" not in plan  # scan-local explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_surprisal_token_stream_never_shuffles(spark, sf_dir):
    plan = plan_of(spark, "text_surprisal", sf_dir)
    assert "SortMergeJoin" not in plan  # counts table broadcasts (AQE)
    assert "BroadcastHashJoin" in plan
    # every hash exchange must key on an AGGREGATE (token counts) or
    # the per-doc stats — the exploded token stream itself stays
    # map-side. (An exact exchange count is brittle: the persisted
    # counts relation prints its build exchange inside the cached plan
    # too, r07.)
    import re

    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert re.search(r"hashpartitioning\((token|doc_id)#", line), line


def test_semantic_dedup_is_bucketed_join_not_allpairs(spark, sf_dir):
    """The candidate join must key on the sign-bit bucket — no
    cartesian/nested-loop pair generation."""
    from usda_food_data_pipeline_spark.operators.similarity import semantic_dedup
    from usda_food_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = semantic_dedup(emb, threshold=0.3, bucket_bits=8)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_small_path_never_shuffles_text(spark, sf_dir):
    """Small-set path: the only exchanges carry (hash, count) aggregate
    rows; document text stays scan-local."""
    import re

    from usda_food_data_pipeline_spark.functions.textstats import boilerplate_scrub
    from usda_food_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = boilerplate_scrub(docs, "doc_id", "text", 6, 3)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1) and "_chunks#" not in m.group(1)


def test_nb_model_joins_by_broadcast(spark, sf_dir):
    """Scoring joins the vocab-sized model by broadcast; the corpus
    token stream is never the build side of a shuffle join."""
    from usda_food_data_pipeline_spark.functions.classify import nb_confusion
    from usda_food_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = nb_confusion(docs, "doc_id", "lang", "text", ["de", "en", "es", "fr", "zh"])
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_overlap_is_bucket_equijoin_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "interval_overlap", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the bucket key drives a hash join (broadcast or shuffled)
    assert "Join" in plan


def test_merge_upsert_single_full_outer_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, "merge_upsert", sf_dir)
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_expectations_row_checks_share_one_scan(spark, sf_dir):
    # 4 row-level checks compile into ONE aggregation over orders: the
    # orders parquet appears once for the row-check branch (plus one
    # scan each for the uniqueness and ref-integrity branches = 3 total)
    plan = plan_of(spark, "data_expectations", sf_dir)
    assert plan.count("orders.parquet") == 3


def test_pagerank_iteration_broadcasts_rank_shares(spark, sf_dir):
    from pyspark.sql import functions as F

    from usda_food_data_pipeline_spark.operators.graph import (
        copurchase_pairs,
        symmetric_edges,
    )
    from usda_food_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ed = symmetric_edges(copurchase_pairs(li))
    outdeg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    shares = outdeg.select("node", (F.lit(0.1) / F.col("outdeg")).alias("share"))
    contribs = ed.join(F.broadcast(shares), ed["src"] == shares["node"]).select(
        F.col("dst"), F.col("share")
    )
    contribs.write.format("noop").mode("overwrite").save()
    plan = contribs._jdf.queryExecution().executedPlan().toString()
    # the edge stream is joined map-side; no sort-merge re-shuffle of edges
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_join_is_blocked_hash_join_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, "fuzzy_name_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate generation joins on the deletion-variant block key
    assert "Join" in plan


def test_triangle_count_no_cartesian(spark, sf_dir, monkeypatch):
    """The plan triangle_count runs (the one it checkpoints, not the
    checkpoint's RDD scan): the wedge and probe stages are equi-joins,
    and the only nested-loop joins are the two that combine the 1-row
    summaries."""
    import re

    from usda_food_data_pipeline_spark.operators.graph import triangle_count

    pairs = spark.createDataFrame(
        [(a, b) for a in range(20) for b in range(a + 1, 20) if (a + b) % 3],
        "src long, dst long",
    )
    df_cls = type(pairs)
    checkpoint = df_cls.localCheckpoint
    plans = []

    def spy(self, eager=True):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", spy)
    assert triangle_count(pairs).first()["n_triangles"] > 0
    [plan] = plans
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    equi = r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) "
    # wedge: o1 JOIN o2 ON u; probe: wedges JOIN oriented ON (v, w)
    assert re.search(equi + r"\[u#\d+L\], \[u#\d+L\], Inner", plan)
    assert re.search(equi + r"\[v#\d+L, w#\d+L\], \[v#\d+L, w#\d+L\], Inner", plan)


def test_pagerank_beyond_broadcast_limit_no_edge_reshuffle(spark, monkeypatch):
    """r04 verdict task 7: the n > broadcast_nodes_limit branch — edges
    are hash-partitioned once and every iteration's share join streams
    the cached layout (shuffled hash join, shares build side): no
    per-iteration edge exchange, no per-iteration edge sort, and the
    ranks match the broadcast path exactly."""
    import re

    from usda_food_data_pipeline_spark.operators import graph
    from usda_food_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(a, (a * 7 + b) % 40) for a in range(40) for b in range(1, 4)],
        "src long, dst long",
    ).filter("src != dst")

    # no checkpoints: the full 2-iteration lineage stays visible
    monkeypatch.setattr(graph, "checkpoint", lambda df, eager=True: df)
    monkeypatch.setattr(graph, "release", lambda df: None)
    shuffled = pagerank(edges, iters=2, broadcast_nodes_limit=0)
    shuffled.write.format("noop").mode("overwrite").save()
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    # the share⋈edges join is a shuffled hash join (shares build side),
    # never a sort-merge join over the edge cache — the only SMJs left
    # are the nodes-sized rank-update joins
    assert "ShuffledHashJoin" in plan
    assert not re.search(r"SortMergeJoin \[src#", plan), plan
    # the edge side must come straight from the cached pre-partitioned
    # layout: no Exchange directly above the edge InMemoryTableScan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "InMemoryTableScan" in line and "src#" in line:
            above = lines[max(0, i - 2):i]
            assert not any("Exchange" in l for l in above), plan

    broadcasted = pagerank(edges, iters=2)
    got = {r.node: r.rank for r in shuffled.collect()}
    want = {r.node: r.rank for r in broadcasted.collect()}
    assert got == want  # dyadic-grid sums → exactly equal, not approx


def test_jaccard_pair_aggregate_is_exchange_free(spark, sf_dir):
    """The per-pair count aggregates (cold collisions, hot shared
    triples) must consume the explicit pair repartition directly: every
    Exchange keyed on (id_a, id_b) must be the REPARTITION_BY_COL the
    operator inserted, never an ENSURE_REQUIREMENTS exchange feeding a
    pre-shuffle partial aggregate — the pre-exchange partial form built
    a per-task map over every pair the collision stream showed it and
    spill-sorted under memory pressure (r06). An in-stage
    partial+final pair AFTER the repartition is fine: the per-task map
    holds only that partition's pairs."""
    plan = plan_of(spark, "dedup_ngram_jaccard", sf_dir)
    import re

    pair_aggs = re.findall(
        r"HashAggregate\(keys=\[id_a[^\]]*\][^)]*functions=\[count\(1\)", plan
    )
    assert len(pair_aggs) == 2, f"expected cold+hot pair aggregates, got {len(pair_aggs)}"
    assert plan.count("REPARTITION_BY_COL") == 2
    for line in plan.splitlines():
        if re.search(r"Exchange hashpartitioning\(id_a#", line):
            assert "REPARTITION_BY_COL" in line, line


_MAX_SPLIT = "spark.sql.files.maxPartitionBytes"
_AQE = "spark.sql.adaptive.enabled"


def _spread_input(spark, sf_dir, tmp_path, case):
    """(input frame, whether spread must return that same frame) for one
    case; every read-time job runs here, before the job group opens."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    target = spark.sparkContext.defaultParallelism
    if case == "small_parquet_files":
        # one row group each; Spark packs small files into fewer splits
        # than files (6 files plan 3 splits on 4 cores)
        for i in range(6):
            pq.write_table(pa.table({"x": list(range(i * 100, i * 100 + 100))}),
                           tmp_path / f"part{i}.parquet")
        return spark.read.parquet(str(tmp_path)), False
    if case == "multi_row_group_file":
        # ~100 KB in 10 row groups plans as one split
        rows = pa.table({"x": list(range(10_000)), "s": [f"{i:010d}" for i in range(10_000)]})
        pq.write_table(rows, tmp_path / "multi.parquet", row_group_size=1_000)
        return spark.read.parquet(str(tmp_path / "multi.parquet")), False
    if case == "csv_with_enough_splits":
        # a CSV splits freely: with 64 KB splits, ~128 KB a core plans
        # about two splits a core
        spark.conf.set(_MAX_SPLIT, str(64 * 1024))
        path = tmp_path / "rows.csv"
        path.write_text("".join(f"{i:09d},{i % 997:09d}\n" for i in range(6_400 * target)))
        df = spark.read.schema("a int, b int").csv(str(path))
        assert df.rdd.getNumPartitions() >= target
        return df, True
    if case == "literal":
        return spark.createDataFrame([(i,) for i in range(10 * target)], "x int"), True
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if case.endswith("_without_aqe"):
        # without AQE the plan is not wrapped: the exchange or the
        # subquery must be found in the tree
        spark.conf.set(_AQE, "false")
    if case == "aggregate":
        return lineitem.groupBy("l_orderkey").agg(F.sum("l_quantity")), True
    if case == "subquery_without_aqe":
        five = spark.range(1).select(F.lit(5)).scalar()
        return lineitem.filter(F.col("l_quantity") > five), True
    if case.startswith("join"):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey")), True
    assert case == "persisted_scan"
    return lineitem.select("l_orderkey", "l_quantity").persist(), False


@pytest.fixture
def restore_confs(spark):
    before = {key: spark.conf.get(key, None) for key in (_MAX_SPLIT, _AQE)}
    yield
    for key, value in before.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("case", ["small_parquet_files", "multi_row_group_file",
                                  "csv_with_enough_splits", "literal", "aggregate", "join",
                                  "persisted_scan", "join_without_aqe",
                                  "subquery_without_aqe"])
def test_spread_decision(spark, sf_dir, tmp_path, restore_confs, case):
    """spread() keeps a frame whose plan shuffles or holds a subquery, or
    whose planned scan already has defaultParallelism splits; it spreads
    every other frame to defaultParallelism partitions, and it never runs
    a Spark job to decide (inputs are built before the job group opens:
    reads may run jobs)."""
    from usda_food_data_pipeline_spark.sources.tables import spread

    sc = spark.sparkContext
    df, kept = _spread_input(spark, sf_dir, tmp_path, case)
    group = f"test_spread_decision_{case}"
    try:
        sc.setJobGroup(group, "spread")
        out = spread(df)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        if kept:
            assert out is df
        else:
            assert out.rdd.getNumPartitions() >= sc.defaultParallelism
    finally:
        sc.setJobGroup("", "")
        df.unpersist()
