"""Unit tests for operator semantics on tiny in-memory frames —
reference-behavior fixtures per FIXTURES.md §A (duplicate keys, dirty
values, nulls, mixed case)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.functions.cleaning import (
    resolve_thresholds,
    row_null_count,
    safe_cast_round,
    threshold_nullout,
)
from usda_food_data_pipeline_spark.operators.dedup import dedup_latest, exact_dedup
from usda_food_data_pipeline_spark.operators.topk import seeded_sample


def test_dedup_latest_keeps_max_per_key(spark):
    # branded_food analog: duplicate gtin_upc with distinct fdc_id
    df = spark.createDataFrame(
        [("u1", 1), ("u1", 3), ("u1", 2), ("u2", 5)], ["upc", "rec_id"]
    )
    out = {r["upc"]: r["rec_id"] for r in dedup_latest(df, ["upc"], "rec_id").collect()}
    assert out == {"u1": 3, "u2": 5}


def test_dedup_latest_keep_min(spark):
    df = spark.createDataFrame([("u1", 1), ("u1", 3)], ["upc", "rec_id"])
    out = dedup_latest(df, ["upc"], "rec_id", keep="min").collect()
    assert out[0]["rec_id"] == 1


def test_safe_cast_round_coerces_dirty_values(spark):
    # reference: pd.to_numeric(errors='coerce').round(2) — :76
    df = spark.createDataFrame(
        [("12.345",), ("not-a-number",), (None,), ("2.005",)], ["serving_size"]
    )
    out = [r[0] for r in df.select(safe_cast_round("serving_size", 2)).collect()]
    assert out[0] == 12.34 or out[0] == 12.35  # bround half-even of 12.345
    assert out[1] is None and out[2] is None


def test_threshold_nullout(spark):
    df = spark.createDataFrame([(1.0, 10.0), (100.0, 3.0)], ["a", "b"])
    out = threshold_nullout(df, {"a": 50.0, "b": 5.0}).collect()
    assert (out[0]["a"], out[0]["b"]) == (1.0, None)
    assert (out[1]["a"], out[1]["b"]) == (None, 3.0)


def test_resolve_thresholds_name_then_unit_fallback():
    # reference :14-23,:119-120 — lookup by full name, fallback by (UNIT)
    cols = ["PROTEIN (G)", "ENERGY (KCAL)", "WEIRD (G)"]
    by_name = {"PROTEIN (G)": 100.0}
    by_unit = {"G": 50.0, "KCAL": 900.0}
    assert resolve_thresholds(cols, by_name, by_unit) == {
        "PROTEIN (G)": 100.0,
        "ENERGY (KCAL)": 900.0,
        "WEIRD (G)": 50.0,
    }


def test_row_null_count(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (None, None, None)], "a int, b int, c string"
    )
    out = [r[0] for r in df.select(row_null_count(["a", "b", "c"])).collect()]
    assert out == [1, 3]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_seeded_sample_deterministic_across_partitionings(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    a = [r["k"] for r in seeded_sample(df, 50, 42, "k").collect()]
    b = [r["k"] for r in seeded_sample(df.repartition(13), 50, 42, "k").collect()]
    assert a == b and len(a) == 50


def test_approx_aggregates_bounded_error(spark):
    """Approximate distinct/quantile must land within documented error
    of the exact values (the rows-only queries' accuracy contract)."""
    from usda_food_data_pipeline_spark.registry import queries

    sf = "/root/testdata/sf0.01"
    approx = {r["return_flag"]: r for r in queries()["approx_distinct"](spark, sf).collect()}
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    from pyspark.sql import functions as FF

    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(FF.countDistinct("l_partkey").alias("parts"))
        .collect()
    }
    for flag, row in approx.items():
        rel = abs(row["approx_parts"] - exact[flag]["parts"]) / exact[flag]["parts"]
        assert rel < 0.1, (flag, rel)


def test_connected_components_known_graph(spark):
    from usda_food_data_pipeline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 8, 9, 42]], "node long")
    got = {r["node"]: r["component"] for r in connected_components(edges, nodes).collect()}
    # {1,2,3,8,9} chain via 9-1; {5,6}; {42} singleton
    assert got == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5, 42: 42}


def test_text_stats_tolerate_empty_documents(spark):
    """Empty/whitespace-only docs must yield NULL stats, not a
    DIVIDE_BY_ZERO job abort (Spark 4 ANSI default)."""
    from usda_food_data_pipeline_spark.functions.textstats import (
        quality_score,
        token_count,
    )
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [(1, "real words here"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_count(FF.col("text")).alias("n"),
            quality_score(FF.col("text")).alias("q"),
        ).collect()
    }
    assert rows[1]["n"] == 3 and rows[1]["q"] is not None
    assert rows[2]["q"] is None  # 0 chars
    assert rows[3]["n"] == 0 and rows[3]["q"] is not None  # chars>0, tokens=0 → band 0


def test_band_join_boundaries_and_clamp(spark):
    from usda_food_data_pipeline_spark.operators.range_join import band_join

    # bands: [0,10) LOW, [10,20) MID, [20, 1e9) open-ended HIGH
    bands = spark.createDataFrame(
        [(0.0, 10.0, "LOW"), (10.0, 20.0, "MID"), (20.0, 1e9, "HIGH")],
        "lo double, hi double, band string",
    )
    fact = spark.createDataFrame(
        [(1, 0.0), (2, 9.999), (3, 10.0), (4, 19.999), (5, 20.0),
         (6, 5e8), (7, -1.0), (8, 2e9)],
        "id long, v double",
    )
    # tiny cap forces the open-ended band through the clamped bucket path
    out = {
        r["id"]: r["band"]
        for r in band_join(fact, bands, "v", bucket_width=10.0, bucket_cap=3).collect()
    }
    # lo inclusive, hi exclusive; -1 and 2e9 fall outside every band
    assert out == {1: "LOW", 2: "LOW", 3: "MID", 4: "MID", 5: "HIGH", 6: "HIGH"}


def test_band_join_is_hash_join_not_nlj(spark):
    from usda_food_data_pipeline_spark.operators.range_join import band_join

    bands = spark.createDataFrame(
        [(0.0, 10.0, "LOW"), (10.0, 1e9, "HIGH")], "lo double, hi double, band string"
    )
    fact = spark.createDataFrame([(1, 5.0)], "id long, v double")
    plan = band_join(fact, bands, "v", bucket_width=10.0)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_raises_past_max_iter(spark):
    """Labels on a 6-node chain need 5 rounds to settle: with a bound of
    3 the loop raises instead of returning partial components, and the
    generations it made are freed with the run."""
    from rdd_blocks import persistent_rdd_ids

    from usda_food_data_pipeline_spark.operators.dedup import connected_components
    from usda_food_data_pipeline_spark.session import QueryRun

    before = persistent_rdd_ids(spark)
    n = 6
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    with pytest.raises(RuntimeError, match="did not converge within 3 rounds"):
        with QueryRun():
            connected_components(edges, nodes, max_iter=3)
    assert not (persistent_rdd_ids(spark) - before)


def test_checkpoint_release_keeps_storage_flat(spark, monkeypatch):
    """r03 verdict item 5: superseded localCheckpoint generations must be
    freed each round, not left for ContextCleaner. Over the label
    propagation rounds on a 12-node chain, at most ONE checkpoint
    generation holds blocks at any time, and none once the query run
    that owns the last one exits."""
    from rdd_blocks import persistent_rdd_ids, spy_live_generations

    from usda_food_data_pipeline_spark.operators.dedup import connected_components
    from usda_food_data_pipeline_spark.session import QueryRun

    before = persistent_rdd_ids(spark)
    live = spy_live_generations(spark, monkeypatch)
    n = 12
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    with QueryRun():
        out = connected_components(edges, nodes)
        assert out.count() == n
        # the final generation is still read by `out`; every superseded
        # one must be gone
        assert len(persistent_rdd_ids(spark) - before) <= 1
    assert len(live) >= 5 and max(live) <= 1, live
    assert not (persistent_rdd_ids(spark) - before)


def test_pagerank_checkpoint_release(spark, monkeypatch):
    from rdd_blocks import persistent_rdd_ids, spy_live_generations

    from usda_food_data_pipeline_spark.operators.graph import pagerank
    from usda_food_data_pipeline_spark.session import QueryRun

    before = persistent_rdd_ids(spark)
    live = spy_live_generations(spark, monkeypatch)
    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)] + [((i + 1) % 50, i) for i in range(50)],
        "src long, dst long",
    )
    with QueryRun():
        ranks = pagerank(edges, iters=10, symmetric=True)
        assert ranks.count() == 50
        assert len(persistent_rdd_ids(spark) - before) <= 1
    assert len(live) == 10 and max(live) <= 1, live
    assert not (persistent_rdd_ids(spark) - before)


def test_redact_pii_patterns_and_duckdb_parity(spark):
    """The synthetic corpus contains no PII, so the oracle row is
    near-vacuous for the regexes — this pins actual redaction behavior
    AND that every pattern means the same thing in Java regex (Spark)
    and RE2 (DuckDB oracle)."""
    import duckdb

    from usda_food_data_pipeline_spark.functions.textstats import (
        PII_PATTERNS,
        redact_pii,
    )

    samples = [
        ("mail me at jane.doe+x@example.co.uk today", "mail me at <EMAIL> today"),
        ("call +1 555-123-4567 or 555 123 4567", "call +1 <PHONE> or <PHONE>"),
        ("ssn 123-45-6789 on file", "ssn <ID> on file"),
        ("id 123-45-6789 email a@b.io phone 555-000-1111",
         "id <ID> email <EMAIL> phone <PHONE>"),
        ("no pii here", "no pii here"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(samples)], "i long, text string")
    got = {r["i"]: r["red"] for r in df.select("i", redact_pii(F.col("text")).alias("red")).collect()}
    for i, (_, want) in enumerate(samples):
        assert got[i] == want, (i, got[i])

    expr = "text"
    for pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    con = duckdb.connect()
    for i, (s, want) in enumerate(samples):
        duck = con.sql(f"SELECT {expr} AS red FROM (VALUES (?)) t(text)", params=[s]).fetchone()[0]
        assert duck == want == got[i]


def test_decontaminate_flags_overlap(spark):
    from usda_food_data_pipeline_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words appear in this text"),
            (3, "quick brown fox jumps high"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in decontaminate(corpus, bench, shingle_n=3, min_shared=2).collect()
    }
    # doc1 shares trigrams {the quick brown, quick brown fox, brown fox jumps};
    # doc3 shares {quick brown fox, brown fox jumps}; doc2 shares none
    assert out == {(1, 100): 3, (3, 100): 2}


def test_quantize_int8_roundtrip_error_bound(spark):
    from usda_food_data_pipeline_spark.operators.similarity import quantize_embeddings_df

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 1.0]),
            (2, [100.0, -100.0, 3.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector → all-zero codes
        ],
        "vec_id long, v array<double>",
    )
    q = quantize_embeddings_df(df, vec_col="v")
    dq = F.transform("q", lambda x: x * F.col("scale"))
    out = q.join(df, "vec_id").select("vec_id", "v", "scale", "q", dq.alias("dq")).collect()
    assert len(out) == 3
    for r in out:
        assert all(-127 <= x <= 127 for x in r["q"])
        if r["vec_id"] == 3:
            assert r["scale"] == 0.0 and r["q"] == [0, 0, 0, 0]
            continue
        assert max(abs(x) for x in r["v"]) / 127.0 == r["scale"]
        for orig, back in zip(r["v"], r["dq"]):
            assert abs(orig - back) <= r["scale"] / 2 + 1e-12
        # the max-magnitude element maps to ±127 exactly
        mx = max(r["v"], key=abs)
        assert r["q"][r["v"].index(mx)] in (127, -127)


def test_quantized_search_recall(spark, sf_dir):
    """End-to-end storage path: search over int8-dequantized vectors
    must preserve the exact top-10 almost entirely (int8 keeps ~2.4
    decimal digits per component — recall@10 >= 0.8 on this corpus)."""
    from usda_food_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        quantize_embeddings_df,
    )
    from usda_food_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    deq = quantize_embeddings_df(emb).select(
        "vec_id", F.transform("q", lambda x: x * F.col("scale")).alias("embedding")
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    exact = {r["vec_id"] for r in cosine_topk(emb, query, k=10).collect()}
    quant = {r["vec_id"] for r in cosine_topk(deq, query, k=10).collect()}
    assert len(exact & quant) >= 8


def test_asof_join_directions(spark):
    """forward / nearest variants against hand-computed expectations
    (backward stays pinned by the asof_join_events oracle row)."""
    from usda_food_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 10, "l1"), ("k", 25, "l2"), ("k", 40, "l3"), ("q", 5, "l4")],
        "key string, t long, tag string",
    )
    right = spark.createDataFrame(
        [("k", 8, 100.0), ("k", 30, 200.0), ("k", 100, 300.0)],
        "key string, t long, v double",
    )

    def run(direction):
        return {
            r["tag"]: r["asof_v"]
            for r in asof_join(left, right, "t", ["key"], ["v"], direction=direction).collect()
        }

    # backward: latest right t' <= t
    assert run("backward") == {"l1": 100.0, "l2": 100.0, "l3": 200.0, "l4": None}
    # forward: earliest right t' >= t
    assert run("forward") == {"l1": 200.0, "l2": 200.0, "l3": 300.0, "l4": None}
    # nearest: min |t - t'|; l1: |10-8|=2 vs |30-10|=20 -> 100;
    # l2: |25-8|=17 vs |30-25|=5 -> 200; l3: |40-30|=10 vs |100-40|=60 -> 200
    assert run("nearest") == {"l1": 100.0, "l2": 200.0, "l3": 200.0, "l4": None}


def test_asof_nearest_tie_goes_backward(spark):
    from usda_food_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 20, "l")], "key string, t long, tag string")
    right = spark.createDataFrame(
        [("k", 10, 1.0), ("k", 30, 2.0)], "key string, t long, v double"
    )
    out = asof_join(left, right, "t", ["key"], ["v"], direction="nearest").collect()
    assert out[0]["asof_v"] == 1.0  # |20-10| == |30-20| → backward wins


def test_udtf_split_sentences(spark):
    from usda_food_data_pipeline_spark.functions.udtf_udaf import split_sentences

    df = spark.createDataFrame(
        [(1, "First one. Second two! Third?"), (2, "single"), (3, None)],
        "doc_id long, text string",
    )
    rows = split_sentences(df, "text", "doc_id").collect()
    got = {(r["doc_id"], r["sent_idx"]): r["sentence"] for r in rows}
    assert got[(1, 0)] == "First one." and got[(1, 1)] == "Second two!" and got[(1, 2)] == "Third?"
    assert got[(2, 0)] == "single"
    assert all(r["n_chars"] == len(r["sentence"]) for r in rows if r["sentence"])
    # null text emits no sentences (outer lateral join keeps no row here
    # because select projects UDTF columns; doc 3 contributes nothing)
    assert {r["doc_id"] for r in rows} == {1, 2, 3} or {r["doc_id"] for r in rows} == {1, 2}


def test_pandas_udaf_geometric_mean(spark):
    import math

    from usda_food_data_pipeline_spark.functions.udtf_udaf import geometric_mean

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 8.0), ("b", 5.0), ("c", -1.0)], "k string, v double"
    )
    got = {
        r["k"]: r["gm"]
        for r in df.groupBy("k").agg(geometric_mean("v").alias("gm")).collect()
    }
    assert abs(got["a"] - 4.0) < 1e-12  # sqrt(2*8)
    assert abs(got["b"] - 5.0) < 1e-12
    # NaN from the UDAF surfaces as SQL NULL through Arrow
    assert got["c"] is None or math.isnan(got["c"])


def test_pack_sequences_budget_invariants(spark):
    from usda_food_data_pipeline_spark.functions.textstats import pack_sequences

    df = spark.createDataFrame(
        [(i, "x", t) for i, t in enumerate([30, 30, 30, 30, 50, 10, 100, 5])]
        + [(100, "y", 25), (101, "y", 90)],
        "doc_id long, lang string, n_toks long",
    )
    out = pack_sequences(df, "n_toks", "doc_id", 100, part_col="lang").collect()
    packs = {}
    for r in out:
        packs.setdefault((r["lang"], r["pack_id"]), []).append((r["doc_id"], r["n_toks"]))
    # every doc STARTS inside its pack's budget window
    for r in out:
        assert r["pack_id"] == r["cum_before"] // 100
    # a pack overflows its 100-token budget by at most its last doc
    for (lang, pid), docs in packs.items():
        docs.sort()
        total = sum(t for _, t in docs)
        assert total - docs[-1][1] < 100
    # streams are independent: y's packing unaffected by x
    y = sorted((r["doc_id"], r["pack_id"]) for r in out if r["lang"] == "y")
    assert y == [(100, 0), (101, 0)]  # 25 + starts-at-25 → same pack


def test_mix_sample_partition_independent(spark, sf_dir):
    """The keep decision is content-derived: the sampled id set must be
    identical under any partition layout (the property rand(seed) lacks),
    and per-source keep rates must track the requested dyadic rates."""
    from usda_food_data_pipeline_spark.operators.topk import weighted_mix_sample
    from usda_food_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    rates = docs.select("source").distinct().withColumn(
        "rate",
        F.when(src_num % 2 == 0, 0.5).otherwise(0.125),
    )
    base = {
        r["doc_id"]
        for r in weighted_mix_sample(docs, rates, "source", "doc_id", seed=3).collect()
    }
    for parts in (1, 7):
        again = {
            r["doc_id"]
            for r in weighted_mix_sample(
                docs.repartition(parts), rates, "source", "doc_id", seed=3
            ).collect()
        }
        assert again == base
    n_docs = docs.count()
    assert 0 < len(base) < n_docs


def test_incremental_dedup_semantics(spark):
    """Incoming exact copy and near-dup of existing are dropped; novel
    doc survives; existing rows never appear in the output."""
    from usda_food_data_pipeline_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus entry about spark plans")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, base),                                   # exact dup -> dropped
            (11, base + " extra"),                        # near dup  -> dropped
            (12, "entirely novel text with no shared shingles whatsoever here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in incremental_dedup(
            existing, incoming, "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    }
    assert got == {12}


def test_scd2_history_compacts_and_intervals(spark):
    from usda_food_data_pipeline_spark.operators.scd import scd2_history

    rows = [
        # key 1: A A B A  -> versions A[1,3) B[3,4) A[4,null)
        (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "A"),
        # key 2: single observation -> one open version
        (2, 7, "X"),
    ]
    df = spark.createDataFrame(rows, "k: long, t: long, attr: string")
    out = scd2_history(df, "k", "t", ["attr"], tiebreak_col="t")
    got = sorted(
        (r["k"], r["valid_from"], r["valid_to"], r["attr"], r["is_current"])
        for r in out.collect()
    )
    assert got == [
        (1, 1, 3, "A", False),
        (1, 3, 4, "B", False),
        (1, 4, None, "A", True),
        (2, 7, None, "X", True),
    ]


def test_scd2_null_attr_transitions(spark):
    from usda_food_data_pipeline_spark.operators.scd import scd2_history

    # null->value and value->null are changes; null->null is not
    rows = [(1, 1, None), (1, 2, None), (1, 3, "A"), (1, 4, None)]
    df = spark.createDataFrame(rows, "k: long, t: long, attr: string")
    out = sorted(
        (r["valid_from"], r["attr"]) for r in scd2_history(df, "k", "t", ["attr"]).collect()
    )
    assert out == [(1, None), (3, "A"), (4, None)]


def test_scd2_single_shuffle(spark, sf_dir):
    from usda_food_data_pipeline_spark.registry import queries

    df = queries()["scd2_history"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both window passes (lag-compaction, lead-intervals) share one
    # hash partitioning on the key
    assert plan.count("Exchange hashpartitioning") == 1


def test_profile_columns_nulls_distinct_extrema(spark):
    from usda_food_data_pipeline_spark.operators.profile import profile_columns

    rows = [("a", 1), ("b", None), ("a", 3), (None, 3)]
    df = spark.createDataFrame(rows, "s: string, v: int")
    out = {
        r["col_name"]: r
        for r in profile_columns(df, {"s": F.col("s"), "v": F.col("v")}).collect()
    }
    assert out["s"]["n_rows"] == 4 and out["s"]["n_nulls"] == 1
    assert out["s"]["n_distinct"] == 2
    assert (out["s"]["min_value"], out["s"]["max_value"]) == ("a", "b")
    assert out["v"]["n_distinct"] == 2 and out["v"]["n_nulls"] == 1
    # min/max are over the STRING form by design
    assert out["v"]["min_value"] == "1" and out["v"]["max_value"] == "3"


def test_split_assign_stable_and_partition_independent(spark):
    from usda_food_data_pipeline_spark.operators.topk import split_assign

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    fr = {"train": 8, "val": 1, "test": 1}
    a = {r["doc_id"]: r["split"] for r in split_assign(df, "doc_id", fr, seed=3).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split_assign(df.repartition(7), "doc_id", fr, seed=3).collect()
    }
    assert a == b  # partitioning-independent
    # growing the corpus never reassigns existing ids
    big = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    c = {r["doc_id"]: r["split"] for r in split_assign(big, "doc_id", fr, seed=3).collect()}
    assert all(c[k] == v for k, v in a.items())
    counts = {s: sum(1 for v in a.values() if v == s) for s in fr}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert set(a.values()) == {"train", "val", "test"}

    import pytest

    with pytest.raises(ValueError):
        split_assign(df, "doc_id", {"train": 5, "val": 1}, seed=3)


def test_boilerplate_scrub_removes_repeated_chunks(spark):
    from usda_food_data_pipeline_spark.functions.textstats import boilerplate_scrub

    footer = "all rights reserved contact us now"  # exactly 6 tokens
    docs = [
        (1, f"alpha beta gamma delta epsilon zeta {footer}"),
        (2, f"one two three four five six {footer}"),
        (3, f"seven eight nine ten eleven twelve {footer}"),
        (4, "unique text with no footer at all"),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in boilerplate_scrub(df, "doc_id", "text", 6, 3).collect()}
    assert len(out) == 5
    # the footer chunk (3 occurrences) is gone; leading chunks survive
    for i in (1, 2, 3):
        assert footer not in out[i]["clean_text"]
        assert out[i]["n_removed"] == 1 and out[i]["n_chunks"] == 2
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta"
    # doc 4: 7 tokens -> 2 chunks (6 + tail of 1), nothing removed
    assert out[4]["n_chunks"] == 2 and out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == "unique text with no footer at all"
    # empty doc: zero chunks, empty output
    assert out[5]["n_chunks"] == 0 and out[5]["clean_text"] == ""


def test_boilerplate_scrub_no_boilerplate_is_identity(spark):
    from usda_food_data_pipeline_spark.functions.textstats import boilerplate_scrub

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id: long, text: string"
    )
    out = boilerplate_scrub(df, "doc_id", "text", 2, 3).collect()
    assert {r["doc_id"]: r["clean_text"] for r in out} == {1: "a b c", 2: "d e f"}
    assert all(r["n_removed"] == 0 for r in out)


def test_nb_classifier_separable_corpus(spark):
    from usda_food_data_pipeline_spark.functions.classify import (
        nb_confusion,
        nb_score,
        nb_train,
    )

    rows = [
        (1, "ham", "offer meeting notes agenda meeting"),
        (2, "ham", "agenda notes project meeting"),
        (3, "spam", "win prize money win win"),
        (4, "spam", "free money prize claim now"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, y: string, text: string")
    classes = ["ham", "spam"]
    model, stats = nb_train(df, "y", "text", classes)
    scored = nb_score(df, "doc_id", "text", model, stats, classes)
    pred = {r["doc_id"]: r["predicted"] for r in scored.collect()}
    assert pred == {1: "ham", 2: "ham", 3: "spam", 4: "spam"}
    # unseen-vocab doc: all tokens unknown -> unseen-lp * n + prior
    # decides; priors are equal (2 docs each) and ham has fewer total
    # training tokens -> larger (less negative) unseen-lp -> ham wins
    new = spark.createDataFrame([(9, "zzz qqq")], "doc_id: long, text: string")
    p9 = nb_score(new, "doc_id", "text", model, stats, classes).first()["predicted"]
    assert p9 == "ham"
    conf = {
        (r["y"], r["predicted"]): r["n_docs"]
        for r in nb_confusion(df, "doc_id", "y", "text", classes).collect()
    }
    assert conf == {("ham", "ham"): 2, ("spam", "spam"): 2}


def test_nb_score_tie_resolves_in_class_order(spark):
    from usda_food_data_pipeline_spark.functions.classify import nb_score, nb_train

    # perfectly symmetric training data -> identical totals per class
    rows = [(1, "a", "x"), (2, "b", "x")]
    df = spark.createDataFrame(rows, "doc_id: long, y: string, text: string")
    model, stats = nb_train(df, "y", "text", ["a", "b"])
    p = nb_score(df, "doc_id", "text", model, stats, ["a", "b"]).collect()
    assert all(r["predicted"] == "a" for r in p)


def test_temperature_mix_flattens_skew_and_rates_are_dyadic(spark):
    from usda_food_data_pipeline_spark.operators.topk import temperature_mix_rates

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    out = {r["source"]: r for r in temperature_mix_rates(df, "source", 0.5).collect()}
    big, small = out["big"], out["small"]
    assert big["n"] == 900 and small["n"] == 100
    # alpha=0.5 weights: sqrt(900):sqrt(100) = 3:1 -> small source is
    # sampled at a HIGHER per-doc rate than the big one (flattening)
    assert small["rate"] > big["rate"]
    # weights 3:1 -> big gets 375 of the 500-doc budget (rate 375/900);
    # small's uncapped rate would be 1.25 -> capped at 1.0, so the
    # realized budget is 375 + 100 = 475 (caps under-fill, never over)
    assert small["rate"] == 1.0
    expected = big["rate"] * 900 + small["rate"] * 100
    assert abs(expected - 475) < 1
    # rates sit on the dyadic 2^-20 grid -> rate * 2^48 is an exact int
    for r in (big["rate"], small["rate"]):
        assert (r * 2**20) == int(r * 2**20)


def test_temperature_mix_rate_caps_at_one(spark):
    from usda_food_data_pipeline_spark.operators.topk import temperature_mix_rates

    # tiny source + huge budget: uncapped rate would exceed 1
    rows = [(i, "big") for i in range(999)] + [(2000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    out = {r["source"]: r["rate"] for r in temperature_mix_rates(df, "source", 1.0).collect()}
    assert out["tiny"] == 1.0
    assert out["big"] <= 1.0


def test_dedup_intra_doc_keeps_first_occurrence(spark):
    from usda_food_data_pipeline_spark.functions.textstats import dedup_intra_doc

    df = spark.createDataFrame(
        [(1, "a b a b c d a b"), (2, ""), (3, "x y x z")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in dedup_intra_doc(df, "doc_id", "text", 2).collect()}
    # doc 1: chunks [a b, a b, c d, a b] -> [a b, c d]
    assert out[1]["clean_text"] == "a b c d"
    assert out[1]["n_chunks"] == 4 and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "" and out[2]["n_chunks"] == 0
    # doc 3: chunks [x y, x z] differ -> untouched
    assert out[3]["clean_text"] == "x y x z" and out[3]["n_removed"] == 0


def test_group_cap_keeps_best_per_key_and_pushes_limit(spark):
    from usda_food_data_pipeline_spark.operators.topk import group_cap

    rows = [(k, i, float(i % 7)) for k in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "src: string, doc_id: long, q: double")
    out = group_cap(df, "src", [F.col("q").desc(), F.col("doc_id")], 3)
    got = sorted((r["src"], r["doc_id"]) for r in out.collect())
    # per key: q=6.0 at ids 6,13 then q=5.0 at id 5 (doc_id tiebreak)
    assert got == [("a", 5), ("a", 6), ("a", 13), ("b", 5), ("b", 6), ("b", 13)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the per-key limit must run BEFORE the exchange (partial mode)
    assert "WindowGroupLimit" in plan


def test_boilerplate_scrub_join_path_matches_broadcast_path(spark):
    from usda_food_data_pipeline_spark.functions.textstats import boilerplate_scrub

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(
        map(tuple, boilerplate_scrub(docs, "doc_id", "text", 6, 3).collect())
    )
    # max_broadcast_set=0 forces the large-set hash-join rebuild
    b = sorted(
        map(
            tuple,
            boilerplate_scrub(docs, "doc_id", "text", 6, 3, max_broadcast_set=0).collect(),
        )
    )
    assert a == b and len(a) == docs.count()


def test_bpe_pair_counts_known_corpus(spark):
    from usda_food_data_pipeline_spark.functions.textstats import bpe_pair_counts

    df = spark.createDataFrame([(1, "low lower lowest x")], "id: long, text: string")
    got = [(r["pair"], r["n"]) for r in bpe_pair_counts(df, "text", 3).collect()]
    # lo/ow appear in all 3 'low*' words; single-char word contributes none
    assert got == [("lo", 3), ("ow", 3), ("we", 2)]


def test_table_diff_statuses(spark):
    from usda_food_data_pipeline_spark.operators.merge import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "", 40), (5, "e", 50)],
        "k int, s string, v int",
    )
    got = {(r.k, r.status) for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    # 1 identical → absent; 2 changed; 3 removed; 4 NULL→'' counts as
    # changed (null-tagged fingerprint); 5 added
    assert got == {(2, "changed"), (3, "removed"), (4, "changed"), (5, "added")}


def test_table_diff_null_key_and_injective_fingerprint(spark):
    """r05 verdict task 4 + ADVICE: (a) a NULL key present in both
    versions must compare as ONE row (changed/unchanged), not as an
    added+removed pair; (b) rows that concatenate equal under a naive
    separator scheme (('a\\x1fb','c') vs ('a','b\\x1fc')) must still
    diff as changed, and a literal NULL-sentinel-like string must not
    collide with an actual NULL."""
    from usda_food_data_pipeline_spark.operators.merge import table_diff

    old = spark.createDataFrame(
        [(None, "x", 1), (1, "a\x1fb", 2), (2, "\x00null", 3)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(None, "y", 1), (1, "a", 2), (2, None, 3)],
        "k int, s string, v int",
    )
    got = {(r.k, r.status) for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert got == {(None, "changed"), (1, "changed"), (2, "changed")}

    # separator injection INSIDE a single compared tuple position:
    # old=('a\x1fb','c') vs new=('a','b\x1fc') concat-ws equal, must diff
    old2 = spark.createDataFrame([(7, "a\x1fb", "c")], "k int, s1 string, s2 string")
    new2 = spark.createDataFrame([(7, "a", "b\x1fc")], "k int, s1 string, s2 string")
    got2 = {(r.k, r.status) for r in table_diff(old2, new2, ["k"], ["s1", "s2"]).collect()}
    assert got2 == {(7, "changed")}

    # NULL key identical in both versions → no output at all
    old3 = spark.createDataFrame([(None, "same", 0)], "k int, s string, v int")
    new3 = spark.createDataFrame([(None, "same", 0)], "k int, s string, v int")
    assert table_diff(old3, new3, ["k"], ["s", "v"]).count() == 0


def test_repetition_signals_hand_values(spark, monkeypatch, tmp_path):
    """Gopher-style repetition rules on a hand-computed doc:
    'a b a b c' -> tokens 5, distinct 3, bigrams [a b, b a, a b, b c]:
    top bigram 'a b' x2 of 4, duplicated instances 2 of 4."""
    import os

    from usda_food_data_pipeline_spark.registry_text import q_repetition_signals

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y z"), (3, "w")],
        "doc_id long, text string",
    )
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r.asDict() for r in q_repetition_signals(spark, d).collect()}
    r1 = got[1]
    assert r1["n_tokens"] == 5
    assert abs(r1["dup_token_frac"] - 2 / 5) < 1e-12
    assert r1["top_bigram_count"] == 2
    assert abs(r1["top_bigram_frac"] - 2 / 4) < 1e-12
    assert abs(r1["dup_bigram_frac"] - 2 / 4) < 1e-12
    r2 = got[2]  # all unique
    assert r2["dup_token_frac"] == 0.0 and r2["dup_bigram_frac"] == 0.0
    r3 = got[3]  # single token: no bigrams -> 0.0 fractions, count 0
    assert r3["top_bigram_count"] == 0 and r3["top_bigram_frac"] == 0.0


@pytest.mark.slow
def test_table_diff_cdc_roundtrip_property(spark):
    """CDC closure: merge_apply(old, table_diff_cdc(old, new)) == new,
    on seeded random version pairs with adds, drops, edits, and
    untouched keys (including value NULLs — only KEYS must be non-null
    per the documented precondition)."""
    import random

    from usda_food_data_pipeline_spark.operators.merge import (
        merge_apply,
        table_diff_cdc,
    )

    for seed in range(4):
        rng = random.Random(seed)
        old_rows = [
            (k, rng.choice(["a", "b", None]), rng.randint(0, 5))
            for k in range(30)
        ]
        new_rows = []
        for k, s, v in old_rows:
            r = rng.random()
            if r < 0.2:
                continue  # removed
            if r < 0.5:
                new_rows.append((k, rng.choice(["a", "b", "c", None]), rng.randint(0, 5)))
            else:
                new_rows.append((k, s, v))  # unchanged
        new_rows += [(100 + i, "new", i) for i in range(rng.randint(0, 4))]
        old = spark.createDataFrame(old_rows, "k int, s string, v int")
        new = spark.createDataFrame(new_rows, "k int, s string, v int")

        cdc = table_diff_cdc(old, new, ["k"])
        got = merge_apply(old, cdc, ["k"], ["_seq"])
        assert sorted(got.collect()) == sorted(new.collect()), f"seed {seed}"
        # the stream is delta-sized: one row per actually-differing key
        n_diff = cdc.count()
        same = {r for r in old_rows if r in set(new_rows)}
        assert n_diff == len(set(r[0] for r in old_rows + new_rows)) - len(same), f"seed {seed}"


def test_winnowing_density_and_coverage_guarantee(spark, tmp_path):
    """Winnowing invariants on the registered query: (a) every doc
    selects at least one fingerprint per window span (n_fingerprints
    >= ceil(n_windows / w) — local sampling can't go sparser than one
    per w consecutive windows); (b) density <= 1; (c) two docs sharing
    a long verbatim run share a fingerprint CODE (the MOSS guarantee
    for matches of length >= w + k - 1 tokens)."""
    import os

    from usda_food_data_pipeline_spark.registry_text import (
        _WIN_K,
        _WIN_W,
        q_winnowing_fingerprints,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, "one two three " + shared + " xx yy"),
            (2, shared + " completely different tail here now"),
            (3, "unrelated words entirely about other things altogether ok"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in q_winnowing_fingerprints(spark, d).collect()}
    for r in rows.values():
        n_windows = r.n_kgrams - _WIN_W + 1
        assert r.n_fingerprints >= -(-n_windows // _WIN_W)
        assert r.density <= 1.0 + 1e-12
    # the MOSS guarantee needs the shared POSITIONS too — recompute the
    # fingerprint sets via the same oracle SQL in DuckDB and intersect
    import duckdb

    from usda_food_data_pipeline_spark.registry_text import _winnow_oracle

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    sql = _winnow_oracle().replace(
        "SELECT doc_id,\n       m AS n_kgrams",
        "SELECT doc_id, list_transform(fp, f -> f // 65536) AS hset, m AS n_kgrams",
    )
    fps = {row[0]: set(row[1]) for row in con.execute(sql).fetchall()}
    assert fps[1] & fps[2], "docs sharing a 10-token run must share a fingerprint hash"
    assert not (fps[1] & fps[3])


def test_doc_repetition_signals(spark):
    from usda_food_data_pipeline_spark.functions.textstats import doc_repetition

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),          # 4 identical bigrams
            (2, "a b c d e"),                          # all bigrams unique
            (3, "x y x y x y"),                        # "x y"×3, "y x"×2
            (4, "solo"),                               # <2 tokens -> excluded
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in doc_repetition(docs, "doc_id", "text").collect()}
    assert set(rows) == {1, 2, 3}
    r1 = rows[1]
    assert (r1["n_bigrams"], r1["top_bigram"], r1["top_count"]) == (4, "spam spam", 4)
    assert r1["top_frac"] == 1.0 and r1["dup_frac"] == 1.0
    r2 = rows[2]
    assert r2["top_count"] == 1 and r2["dup_frac"] == 0.0
    assert r2["top_bigram"] == "a b"  # (count DESC, bigram ASC) tie-break
    assert r2["top_frac"] == 0.25
    r3 = rows[3]
    assert (r3["n_bigrams"], r3["top_bigram"], r3["top_count"]) == (5, "x y", 3)
    assert r3["dup_frac"] == 1.0 and r3["top_frac"] == 0.6
