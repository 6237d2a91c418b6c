"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "sum_query_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query executes end-to-end via a noop write (full computation, no
driver-side result materialization cost in the measurement). Each query
runs $SPARK_GRAFT_BENCH_REPEATS times (default 2) and reports the MIN —
single-run timings on this shared host carry ±30% noise (observed across
rounds), and min-of-repeats measures the plan, not the scheduler hiccup.

Cross-round comparisons are therefore INVALID on absolutes (r06 verdict
task 8): for queries whose plans changed during a round, the builder
records a same-session old-vs-new A/B (min-of-N, back-to-back on the
same host window, old code via a git worktree of the pre-change commit)
in AB_NOTES.json; this harness merges it into both output lines as
``same_session_ab`` so the artifact itself carries the valid ratio.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from usda_food_data_pipeline_spark import class_archive, registry
from usda_food_data_pipeline_spark.session import QueryRun, get_spark


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs holding storage blocks: persisted caches and
    localCheckpoint generations alike."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``); a warm repeat that adds to it recompiles
    generated code its first repeat already compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def warmup(spark, sf_dir: str) -> None:
    """JIT/codegen + file-footer warmup so per-query timings measure the
    queries, not one-time session costs."""
    from usda_food_data_pipeline_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # exercise the operator classes queries compile to (agg, window,
    # broadcast join, pivot) so codegen compilation isn't billed to the
    # first query that uses each
    base = spark.range(100_000).selectExpr("id % 10 AS k", "id % 3 AS p", "CAST(id AS DOUBLE) AS v")
    base.groupBy("k").pivot("p", [0, 1, 2]).sum("v").count()
    base.selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn").filter("rn = 1").count()
    dim = spark.range(10).selectExpr("id AS k", "id * 2 AS w")
    base.join(dim.hint("broadcast"), "k").count()
    # Python-boundary warmup (r11 opt round): the kmeans/PQ/ADC family
    # runs Arrow-batched pandas_udf / mapInPandas stages; the FIRST such
    # stage in a session pays the Python worker pool spawn (fork +
    # pyspark/numpy import per core), which was billed to whichever
    # vector query ran first. Same class of one-time session cost as
    # the codegen warmups above — the timed methodology is unchanged.
    base.mapInPandas(_warm_batches, "k long").count()


def _warm_batches(batches):
    """bench.warmup helper: one numpy round trip per Arrow batch."""
    import numpy as np

    for pdf in batches:
        yield pdf.assign(k=np.asarray(pdf["k"].to_numpy(), dtype=np.int64))[["k"]]


# Fixed cross-round comparison basis (r11 verdict task 9): the 158
# queries registered at the round-10 close (`git 35a9751`), BY NAME,
# less one since-deleted diagnostic query (157).
# The suite grows most rounds and the artifact-derived carried set
# drifts with it, so the driver's prev/now total diff never compares
# the same work twice; this list is frozen — never add to it — and
# `carried_fixed_sec` in both output lines is the sum over exactly
# these queries, an apples-to-apples anchor across every future round.
FIXED_CARRIED: frozenset[str] = frozenset((
    "above_avg_parts", "adc_recall_eval", "adc_rerank_topk",
    "ann_recall_eval", "anti_join_customers", "approx_distinct",
    "approx_quantiles", "array_agg_quantities", "asof_join_events",
    "asof_join_nearest", "bm25_batch", "bm25_retrieval",
    "boilerplate_scrub", "bpe_pairs", "bpe_train", "chunk_documents",
    "cms_heavy_hitters", "containment_pairs", "corpus_datacard",
    "cosine_topk", "data_expectations", "dataset_split", "date_functions",
    "decontaminate", "dedup_clusters", "dedup_exact", "dedup_keep_longest",
    "dedup_latest_order", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_stats", "densest_rows", "distinct_agg",
    "doc_novelty", "doc_repetition", "domain_cap", "dsir_select",
    "dup_substring_spans", "embedding_neardup", "events_agg",
    "events_outliers", "events_twap", "filter_not_contains", "flagship",
    "funnel_conversion", "fuzzy_name_join", "gap_fill_daily",
    "geomean_quantity", "global_sort_topk", "gopher_rules", "group_mean",
    "grouping_sets", "hamming_topk", "hard_negative_mining",
    "hll_distinct", "incremental_dedup", "interval_overlap",
    "intra_doc_dedup", "ivf_adc_topk", "ivf_topk", "jl_projection",
    "k_anonymity", "kcore_nodes", "kmeans_embeddings", "knn_join",
    "label_propagation", "label_prototypes", "langid_ngram",
    "line_dedup_global", "lm_doc_scores", "maxsim_retrieval",
    "merge_upsert", "metadata_documents", "mix_sampling",
    "multimodal_decode", "multimodal_meta", "multimodal_resize",
    "nb_classifier", "pagerank_parts", "percentile_quantity", "pii_scrub",
    "pivot_avg_returnflag", "pmi_phrases",
    "posexplode_tokens", "pq_adc_topk", "pq_quantize", "profile_orders",
    "project_rename_normalize", "quality_bins", "quantize_embeddings",
    "range_join_bands", "regexp_extract_unit", "repetition_signals",
    "retention_cohorts", "rolling_anomaly", "rrf_fusion",
    "scalar_functions", "scd2_history", "seeded_sample",
    "semantic_decontaminate", "semantic_dedup", "semi_join_orders",
    "sequence_packing", "sessionize_gaps", "set_ops", "skew_salted_join",
    "skew_salted_sum", "snapshot_read", "split_sentences",
    "stratified_sample", "table_checksum", "table_diff", "table_diff_cdc",
    "temperature_mix", "text_embed", "text_fingerprint", "text_signals",
    "text_surprisal", "text_tokens", "tfidf_keywords", "threshold_nullout",
    "token_budget_select", "topk_avg_retrieved", "topk_per_group",
    "tpch_q1", "tpch_q10_sql", "tpch_q11_important_parts",
    "tpch_q12_late_priority", "tpch_q13_custdist", "tpch_q14_promo_share",
    "tpch_q15_top_supplier", "tpch_q16_supplier_counts",
    "tpch_q17_small_quantity", "tpch_q18_big_orders",
    "tpch_q19_disjunctive", "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers", "tpch_q22_idle_customers",
    "tpch_q2_min_cost_supplier", "tpch_q3", "tpch_q4_exists", "tpch_q5",
    "tpch_q6", "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q9_profit", "training_pipeline", "triangle_count",
    "try_cast_round", "unpivot_orders", "vocab_topk", "weighted_sample",
    "window_running", "window_session", "window_tumbling_sliding",
    "winnowing_fingerprints",
))


def load_ab_notes() -> dict:
    """Same-session old-vs-new A/B measurements for queries changed this
    round (see module docstring). Written by the builder at change time;
    absent file → empty map."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "AB_NOTES.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def ab_ratios(ab: dict) -> dict[str, float]:
    """Reduce the AB_NOTES payload to bare ``{query: ratio}`` pairs for
    the compact line (r08 verdict task 4: the full payload grew past the
    driver's ~2000-char stdout tail and cut off the headline metric —
    BENCH_r08 parsed=null; prose stays in AB_NOTES.json/the full line)."""
    out: dict[str, float] = {}
    for name, entry in (ab or {}).items():
        if not isinstance(entry, dict):
            continue
        for v in entry.values():
            if isinstance(v, dict) and isinstance(v.get("ratio"), (int, float)):
                out[name] = v["ratio"]
                break
    return out


def carried_split(
    timings: dict[str, float], prev_queries: set[str]
) -> dict[str, float]:
    """Carried-vs-new subtotals (r10 verdict task 7): the suite grows
    most rounds, so the headline total drifting up must never read as
    regression.  ``carried_sec`` sums queries present in the PREVIOUS
    full-bench artifact; ``new_sec`` is the rest (omitted when there is
    no previous artifact to diff against).  ``carried_fixed_sec`` sums
    the frozen FIXED_CARRIED name list — the stable cross-round anchor
    (r11 verdict task 9)."""
    # the FIXED anchor always ships (r11 verdict task 9), even when no
    # previous artifact exists to derive the rolling carried set from
    fixed = {
        "carried_fixed_sec": round(
            sum(v for n, v in timings.items() if v >= 0 and n in FIXED_CARRIED), 3
        ),
        "carried_fixed_n": sum(
            1 for n, v in timings.items() if v >= 0 and n in FIXED_CARRIED
        ),
    }
    if not prev_queries:
        return fixed
    carried = sum(v for n, v in timings.items() if v >= 0 and n in prev_queries)
    new = sum(v for n, v in timings.items() if v >= 0 and n not in prev_queries)
    return {
        **fixed,
        "carried_sec": round(carried, 3),
        "carried_n": sum(1 for n, v in timings.items() if v >= 0 and n in prev_queries),
        "new_sec": round(new, 3),
        "new_n": sum(1 for n, v in timings.items() if v >= 0 and n not in prev_queries),
    }


def build_compact(
    timings: dict[str, float], errors: list[str], sf: float, repeats: int,
    max_chars: int = 1500, guards: dict[str, dict] | None = None,
    ab: dict | None = None, split: dict | None = None,
) -> dict:
    """Compact headline line for the driver's ~2000-char stdout tail:
    headline metric + the slowest queries that fit. ``n_errors`` counts
    QUERIES THAT RAISED (tracked by name, not inferred from negative
    timings — r04 verdict: an error before timing must not be
    invisible); the names ship in ``errors`` whenever nonzero.

    The ENTIRE line is budgeted under ``max_chars`` — every variable
    payload (errors, guard drops, AB ratios, the query fill) trims to
    fit, so the headline metric can never be pushed out of the driver's
    tail capture again (the r03 full-map and r08 AB-payload failure
    modes were both this line growing unbounded)."""
    compact = {
        "metric": "sum_query_sec",
        "value": round(sum(v for v in timings.values() if v >= 0), 3),
        "unit": "sec",
        "sf": sf,
        "repeats": repeats,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries": {},
    }
    if split:
        compact.update(split)
    if errors:
        compact["errors"] = sorted(errors)
        while len(compact["errors"]) > 1 and len(json.dumps(compact)) > max_chars:
            compact["errors"].pop()
    # guard drops are a RECALL signal, not a perf one: nonzero means a
    # bucket cap engaged and pair output is incomplete for that query —
    # surface it in the headline line, never bury it in the full map
    dropped = {
        n: g["guard_dropped_rows"]
        for n, g in (guards or {}).items()
        if g.get("guard_dropped_rows", 0) > 0
    }
    if dropped:
        compact["guard_dropped_rows"] = dropped
    if ab:
        ratios = ab_ratios(ab)
        if ratios:
            compact["same_session_ab"] = ratios
            # keep room for at least a few slowest-query entries
            while ratios and len(json.dumps(compact)) > max_chars - 300:
                del ratios[sorted(ratios)[-1]]
            if not ratios:
                del compact["same_session_ab"]
    # fill with the slowest queries while the line stays inside the window
    for name in sorted(timings, key=lambda n: -timings[n]):
        compact["queries"][name] = timings[name]
        if len(json.dumps(compact)) > max_chars:
            del compact["queries"][name]
            break
    return compact


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    except ValueError:
        sf = -1.0  # unknown scale dir name; still run the benchmark
    t0 = time.perf_counter()
    spark = get_spark("bench")
    session_s = round(time.perf_counter() - t0, 3)
    warmup(spark, sf_dir)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    timings: dict[str, float] = {}
    errors: list[str] = []
    guards: dict[str, dict] = {}
    leaked: list[str] = []
    compiles: dict[str, int] = {}
    warm_compiles: dict[str, int] = {}
    for name, fn in registry.queries().items():
        best = -1.0
        before = persistent_rdd_ids(spark)
        # untimed: the compile count before the first repeat and after
        # each one
        compiled = [codegen_compiles(spark)]
        try:
            for _ in range(repeats):
                # each repeat owns (and on exit releases) every cache and
                # checkpoint the query makes, so every repeat is measured
                # standalone
                with QueryRun() as run:
                    t0 = time.time()
                    run_query(fn(spark, sf_dir))
                    sec = round(time.time() - t0, 3)
                best = sec if best < 0 else min(best, sec)
                compiled.append(codegen_compiles(spark))
        except Exception as ex:  # noqa: BLE001
            best = -1.0
            errors.append(name)
            print(f"bench error in {name}: {ex}", file=sys.stderr)
        timings[name] = best
        # untimed: classes compiled over all repeats and over the warm
        # ones, and blocks the query's runs left without an owner
        compiles[name] = codegen_compiles(spark) - compiled[0]
        if len(compiled) > 2 and compiled[-1] > compiled[1]:
            warm_compiles[name] = compiled[-1] - compiled[1]
        if persistent_rdd_ids(spark) - before:
            leaked.append(name)
        # read guard counters OUTSIDE the timed window (r05 verdict
        # task 5): guarded queries registered a GuardStats with their
        # run at plan build; .get runs one keys-only aggregate action
        obs = run.guards.get(name) if best >= 0 else None
        if obs is not None:
            try:
                guards[name] = obs.get
            except Exception as ex:  # noqa: BLE001
                print(f"guard read failed for {name}: {ex}", file=sys.stderr)

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    # The driver captures only the LAST ~2000 chars of stdout; with 106
    # queries the full per-query map alone runs ~2,900 chars and pushed the
    # headline metric out of the r03 capture (BENCH_r03.json parsed=null).
    # Print the full map on its own line FIRST (and to a file for humans),
    # then the compact headline line LAST so the tail capture always parses.
    ab = load_ab_notes()
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_FULL_sf{sf}.json"
    )
    # previous artifact's query set is the carried-subtotal basis; read
    # BEFORE overwriting
    prev_queries: set[str] = set()
    try:
        with open(out) as f:
            # errored queries land in the artifact with timing -1.0 and
            # contributed 0 to its total — treating one as "carried"
            # would book its whole runtime as a carried regression the
            # first time it succeeds
            prev_queries = {
                n for n, v in json.load(f).get("queries", {}).items() if v >= 0
            }
    except (OSError, ValueError):
        pass
    split = carried_split(timings, prev_queries)
    full = {
        "metric": "sum_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats": repeats,
        "errors": sorted(errors),
        "guards": guards,
        "leaked_blocks": leaked,
        "codegen_compiles": compiles,
        "codegen_compiles_total": sum(compiles.values()),
        "codegen_compiles_warm": warm_compiles,
        # untimed: the session's launch, and whether its JVM mapped the
        # class-data archive, recorded one, or ran without
        "session_s": session_s,
        "class_archive": class_archive.state(spark),
        "same_session_ab": ab,
    }
    if split:
        full.update(split)
    print(json.dumps(full))
    try:
        with open(out, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    print(json.dumps(build_compact(timings, errors, sf, repeats, guards=guards, ab=ab, split=split)))


if __name__ == "__main__":
    main()
