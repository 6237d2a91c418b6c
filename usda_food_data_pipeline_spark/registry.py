"""Query registry: the driver-facing inventory of implemented operators.

Each entry pairs a PySpark DataFrame program with the equivalent ANSI SQL
for the DuckDB oracle (``__spark_entry__.queries`` / ``oracle_sql``).
Column names are aliased identically on both sides; doubles that pass
through aggregation use the exact-decimal trick (functions.cleaning) so
value hashes match bit-for-bit regardless of aggregation order.

Queries whose semantics are not SQL-expressible (seeded sampling,
streaming-only operators) register with ``oracle=None`` → the driver
records a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleaning import (
    deterministic_avg,
    deterministic_sum,
    grid_round_col,
    sql_grid_round,
)
from .operators.dedup import dedup_latest
from .operators.pivot import group_avg_pivot
from .operators.topk import densest_rows
from .plans.flagship import FLAGSHIP_ORACLE_SQL, flagship_query
from .sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → rows-only check
    doc: str = ""


_SPECS: list[QuerySpec] = []

def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def wrap(fn: QueryFn) -> QueryFn:
        _SPECS.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return wrap


# The driver's correctness gate checks the FIRST 50 queries in this
# order, so the order is explicit, not import order. Every window slot
# holds a query with an exact DuckDB oracle and no transcendental on
# either side (tests/test_rotation_gate.py), one query per operator
# family; everything past slot 50 is still bench-run and oracle-checked
# locally by tools/check_correctness.py. Rotation history lives in git.
#
# slot  query                     why it holds a window slot
#   1   flagship                  the reference pipeline: star-schema join chain
#   2   dedup_latest_order        keep-latest dedup (row_number window)
#   3   semi_join_orders          semi-join (the reference's isin filter)
#   4   doc_repetition            Gopher per-doc repetition ratios
#   5   project_rename_normalize  projection + rename + trim/upper normalize
#   6   lm_doc_scores             bigram LM scores as exact BIGINT ln-nano sums
#   7   group_mean                group-mean collapse of duplicate measurements
#   8   pivot_avg_returnflag      group-avg pivot, long to wide
#   9   dsir_select               DSIR importance resampling, BIGINT ln-nano sums
#  10   densest_rows              per-row null count + top-k (TakeOrdered)
#  11   seeded_sample             deterministic sampling by content hash
#  12   scalar_functions          string/number scalars, try_cast, bround, regexp
#  13   metadata_documents        row to key-value metadata document
#  14   tpch_q1                   TPC-H Q1 pricing summary aggregate
#  15   ivf_adc_topk              compressed-domain ANN (IVF prune + ADC scoring)
#  16   pagerank_parts            iterative graph mass propagation
#  17   cosine_topk               exact vector top-k
#  18   merge_upsert              CDC MERGE
#  19   semantic_dedup            blocked cosine self-join dedup
#  20   boilerplate_scrub         corpus-level boilerplate removal
#  21   nb_classifier             trainable text classifier
#  22   dedup_ngram_jaccard       exact n-gram Jaccard dedup
#  23   dedup_minhash_lsh         MinHash-LSH dedup
#  24   dedup_simhash             SimHash fingerprints
#  25   cms_heavy_hitters         count-min sketch (frequency sketch table)
#  26   text_signals              per-doc language + quality signals
#  27   containment_pairs         set-containment join (oracle models the L1
#                                 path: guard drops must stay 0 at the driver's sf)
#  28   bm25_retrieval            lexical retrieval
#  29   fuzzy_name_join           record linkage (blocked edit-distance join)
#  30   multimodal_decode         mapInPandas binary decode (WAV/BMP)
#  31   text_embed                hashing featurizer embeddings
#  32   dedup_clusters            connected components over dedup pairs
#  33   training_pipeline         composite curation pipeline
#  34   window_tumbling_sliding   tumbling + sliding event-time windows
#  35   interval_overlap          interval-overlap temporal join
#  36   funnel_conversion         ordered funnel
#  37   asof_join_events          as-of join
#  38   label_propagation         community detection (label propagation)
#  39   data_expectations         declarative data-quality gate
#  40   scd2_history              SCD-2 validity-interval history
#  41   sessionize_gaps           batch sessionization (lag + running flag sum)
#  42   weighted_sample           weighted sampling; the in-plan portable ln
#  43   ann_recall_eval           ANN recall@10 harness
#  44   decontaminate             n-gram benchmark decontamination
#  45   dup_substring_spans       substring-level dedup
#  46   kmeans_embeddings         exact-integer Lloyd clustering loop
#  47   skew_salted_sum           skew salting
#  48   hll_distinct              HyperLogLog (cardinality sketch)
#  49   kcore_nodes               bounded-round k-core peel
#  50   filter_not_contains       negated-contains filter + null drop
#
# Beyond the window, in order; each group's families are attested by an
# in-window query above:
# - threshold_nullout: first to re-enter if the window grows;
# - gap_fill_daily .. rolling_anomaly: rotated out with long green
#   histories to make room for new families;
# - gopher_rules .. vector_stats: operators added after their family
#   already had a window slot;
# - sequence_packing .. hamming_topk: the same, the rows-only bpe_train
#   among them;
# - text_tokens .. events_twap: earlier operators whose shape an
#   in-window query already covers (TPC-H variants included), and the
#   two rows-only approximate sketches.
_ORDER: list[str] = [
    "flagship",
    "dedup_latest_order",
    "semi_join_orders",
    "doc_repetition",
    "project_rename_normalize",
    "lm_doc_scores",
    "group_mean",
    "pivot_avg_returnflag",
    "dsir_select",
    "densest_rows",
    "seeded_sample",
    "scalar_functions",
    "metadata_documents",
    "tpch_q1",
    "ivf_adc_topk",
    "pagerank_parts",
    "cosine_topk",
    "merge_upsert",
    "semantic_dedup",
    "boilerplate_scrub",
    "nb_classifier",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "cms_heavy_hitters",
    "text_signals",
    "containment_pairs",
    "bm25_retrieval",
    "fuzzy_name_join",
    "multimodal_decode",
    "text_embed",
    "dedup_clusters",
    "training_pipeline",
    "window_tumbling_sliding",
    "interval_overlap",
    "funnel_conversion",
    "asof_join_events",
    "label_propagation",
    "data_expectations",
    "scd2_history",
    "sessionize_gaps",
    "weighted_sample",
    "ann_recall_eval",
    "decontaminate",
    "dup_substring_spans",
    "kmeans_embeddings",
    "skew_salted_sum",
    "hll_distinct",
    "kcore_nodes",
    "filter_not_contains",
    # -------- beyond the window --------
    "threshold_nullout",
    "gap_fill_daily",
    "dedup_stats",
    "doc_novelty",
    "table_diff",
    "bm25_batch",
    "grouping_sets",
    "snapshot_read",
    "mix_sampling",
    "rolling_anomaly",
    "gopher_rules",
    "pmi_phrases",
    "pq_quantize",
    "adc_recall_eval",
    "adc_rerank_topk",
    "lsh_recall_eval",
    "zorder_key_map",
    "nb_calibration",
    "simhash_neardup",
    "token_entropy",
    "cluster_balanced_sample",
    "vector_stats",
    "sequence_packing",
    "quantize_embeddings",
    "skew_salted_join",
    "bpe_train",
    "bpe_encode_stats",
    "quality_bins",
    "hamming_topk",
    "text_tokens",
    "text_fingerprint",
    "window_session",
    "events_agg",
    "unpivot_orders",
    "percentile_quantity",
    "ivf_topk",
    "set_ops",
    "distinct_agg",
    "window_running",
    "multimodal_meta",
    "embedding_neardup",
    "knn_join",
    "dedup_exact",
    "anti_join_customers",
    "posexplode_tokens",
    "split_sentences",
    "geomean_quantity",
    "try_cast_round",
    "global_sort_topk",
    "regexp_extract_unit",
    "tpch_q3",
    "date_functions",
    "tpch_q6",
    "tpch_q5",
    "tpch_q18_big_orders",
    "tpch_q14_promo_share",
    "tpch_q19_disjunctive",
    "tpch_q10_sql",
    "tpch_q4_exists",
    "above_avg_parts",
    "topk_per_group",
    "array_agg_quantities",
    "stratified_sample",
    "approx_distinct",
    "approx_quantiles",
    "vocab_topk",
    "text_surprisal",
    "incremental_dedup",
    "tfidf_keywords",
    "rrf_fusion",
    "multimodal_resize",
    "profile_orders",
    "dataset_split",
    "range_join_bands",
    "triangle_count",
    "chunk_documents",
    "topk_avg_retrieved",
    "pii_scrub",
    "events_twap",
]


def specs() -> list[QuerySpec]:
    # Import side-effect modules that register additional queries.
    from . import registry_vector  # noqa: F401
    from . import registry_text  # noqa: F401
    from . import registry_streaming  # noqa: F401
    from . import registry_ext  # noqa: F401
    from . import registry_ops  # noqa: F401
    from . import registry_tpch  # noqa: F401
    from . import registry_curation  # noqa: F401
    from . import registry_select  # noqa: F401

    by_name = {s.name: s for s in _SPECS}
    unlisted = [s for s in _SPECS if s.name not in set(_ORDER)]
    ordered = [by_name[n] for n in _ORDER if n in by_name]
    return ordered + unlisted  # new queries land after the curated window


def queries() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in specs() if s.oracle is not None}


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 step 1)
# ---------------------------------------------------------------------------

register("flagship", FLAGSHIP_ORACLE_SQL, "reference pipeline on the star schema")(
    flagship_query
)


# ---------------------------------------------------------------------------
# D1: dedup-latest (usda_branded_food_data_pipeline.py:68-69)
# ---------------------------------------------------------------------------

@register(
    "dedup_latest_order",
    f"""
    SELECT o_orderkey AS order_key, o_custkey AS customer_key,
           o_orderstatus AS order_status,
           {sql_grid_round('o_totalprice', 2)} AS order_total,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM (
        SELECT o.*, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        FROM orders o
    ) WHERE rn = 1
    """,
    "keep the max-orderkey order per customer (window row_number, not dropDuplicates)",
)
def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return dedup_latest(orders, ["o_custkey"], "o_orderkey").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("customer_key"),
        F.col("o_orderstatus").alias("order_status"),
        grid_round_col("o_totalprice", 2).alias("order_total"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# P5/J3: semi-join; left_anti as the complement (SURVEY §2.4)
# ---------------------------------------------------------------------------

@register(
    "semi_join_orders",
    f"""
    SELECT o_orderkey AS order_key, {sql_grid_round('o_totalprice', 2)} AS order_total
    FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
    """,
    "orders that have lineitems (left_semi ~ reference isin filter :85,:100)",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return orders.join(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_semi"
    ).select(
        F.col("o_orderkey").alias("order_key"),
        grid_round_col("o_totalprice", 2).alias("order_total"),
    )


@register(
    "anti_join_customers",
    """
    SELECT c_custkey AS customer_key, upper(trim(c_name)) AS customer_name
    FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "customers with no orders (left_anti; generalization of reference ~contains P6)",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select(
        F.col("c_custkey").alias("customer_key"),
        F.upper(F.trim("c_name")).alias("customer_name"),
    )


# ---------------------------------------------------------------------------
# P1/P2/F1: project + rename + normalize (:70-74,83-85)
# ---------------------------------------------------------------------------

@register(
    "project_rename_normalize",
    f"""
    SELECT c_custkey AS customer_key,
           upper(trim(c_name)) AS customer_name,
           upper(trim(c_mktsegment)) AS segment,
           {sql_grid_round('c_acctbal', 2)} AS account_balance
    FROM customer
    """,
    "5-col projection with renames and trim/upper normalization",
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey").alias("customer_key"),
        F.upper(F.trim("c_name")).alias("customer_name"),
        F.upper(F.trim("c_mktsegment")).alias("segment"),
        grid_round_col("c_acctbal", 2).alias("account_balance"),
    )


# ---------------------------------------------------------------------------
# P6/P7/F8: negated-contains filter + null-drop (:127-128,:154)
# ---------------------------------------------------------------------------

@register(
    "filter_not_contains",
    """
    SELECT p_partkey AS part_key, p_name AS part_name, p_type AS part_type
    FROM part
    WHERE (p_type NOT LIKE '%PROMO%' OR p_type IS NULL) AND p_name IS NOT NULL
    """,
    "drop rows whose type contains a token, keeping nulls (na=False semantics)",
)
def q_filter_not_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    keep = (~F.col("p_type").contains("PROMO")) | F.col("p_type").isNull()
    return (
        part.filter(keep)
        .na.drop(subset=["p_name"])
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_name").alias("part_name"),
            F.col("p_type").alias("part_type"),
        )
    )


# ---------------------------------------------------------------------------
# A1: group-mean (:101)
# ---------------------------------------------------------------------------

@register(
    "group_mean",
    """
    SELECT l_orderkey AS order_key, l_returnflag AS return_flag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
                 / count(*) AS avg_price,
           count(*) AS n_items
    FROM lineitem GROUP BY l_orderkey, l_returnflag
    """,
    "collapse duplicate measurements by averaging (reference group-mean)",
)
def q_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # l_extendedprice is non-null → one shared count serves both the
    # divisor and n_items (one fewer aggregate function in the plan)
    return (
        lineitem.groupBy("l_orderkey", "l_returnflag")
        .agg(
            deterministic_sum("l_extendedprice").alias("price_sum"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_returnflag").alias("return_flag"),
            (F.col("price_sum") / F.col("n_items")).alias("avg_price"),
            "n_items",
        )
    )


# ---------------------------------------------------------------------------
# A2 + J4: pivot long→wide with dimension-derived column names (:102-106)
# ---------------------------------------------------------------------------

@register(
    "pivot_avg_returnflag",
    """
    SELECT l_orderkey AS order_key,
        CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
              / count(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS avg_price_a,
        CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
              / count(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END) AS avg_price_n,
        CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(30,6)) END) AS DOUBLE)
              / count(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS avg_price_r
    FROM lineitem GROUP BY l_orderkey
    """,
    "group-avg then pivot with explicit values; columns renamed per dimension map",
)
def q_pivot_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    piv = group_avg_pivot(
        lineitem, "l_orderkey", "l_returnflag", "l_extendedprice",
        ["A", "N", "R"],
        rename={"A": "avg_price_a", "N": "avg_price_n", "R": "avg_price_r"},
    )
    return piv.withColumnRenamed("l_orderkey", "order_key")


# ---------------------------------------------------------------------------
# F5/F6: threshold null-out + round (:116-123)
# ---------------------------------------------------------------------------

@register(
    "threshold_nullout",
    f"""
    SELECT l_orderkey AS order_key, l_linenumber AS line_number,
           {sql_grid_round('CASE WHEN l_extendedprice <= 30000.0 THEN l_extendedprice END', 2)} AS price_capped,
           {sql_grid_round('CASE WHEN l_quantity <= 25.0 THEN l_quantity END', 2)} AS qty_capped
    FROM lineitem
    """,
    "per-column threshold rule table: values above threshold become null",
)
def q_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _capped_lineitem(spark, sf_dir)


def _capped_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared projection for threshold_nullout and densest_rows (same
    rule table on both sides of both oracles — single source of truth)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        grid_round_col(F.when(F.col("l_extendedprice") <= 30000.0, F.col("l_extendedprice")), 2).alias("price_capped"),
        grid_round_col(F.when(F.col("l_quantity") <= 25.0, F.col("l_quantity")), 2).alias("qty_capped"),
    )


# ---------------------------------------------------------------------------
# A3/D3: row null count + densest rows (utils/extract_most_populated_rows.py)
# ---------------------------------------------------------------------------

@register(
    "densest_rows",
    f"""
    SELECT * FROM (
        SELECT l_orderkey AS order_key, l_linenumber AS line_number,
               {sql_grid_round('CASE WHEN l_extendedprice <= 30000.0 THEN l_extendedprice END', 2)} AS price_capped,
               {sql_grid_round('CASE WHEN l_quantity <= 25.0 THEN l_quantity END', 2)} AS qty_capped,
               (CASE WHEN (CASE WHEN l_extendedprice <= 30000.0 THEN l_extendedprice END) IS NULL THEN 1 ELSE 0 END
              + CASE WHEN (CASE WHEN l_quantity <= 25.0 THEN l_quantity END) IS NULL THEN 1 ELSE 0 END
              + CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END
              + CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS null_count
        FROM lineitem
    ) ORDER BY null_count, order_key, line_number LIMIT 10
    """,
    "top-10 rows with fewest nulls (per-row null count + TakeOrdered); also "
    "attests D2 global sort/top-k — same TakeOrderedAndProject physical shape "
    "as global_sort_topk, which now sits beyond the driver window",
)
def q_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return densest_rows(_capped_lineitem(spark, sf_dir), 10, ["order_key", "line_number"])


# ---------------------------------------------------------------------------
# D2: global sort / top-k (:80 + TakeOrderedAndProject)
# ---------------------------------------------------------------------------

@register(
    "global_sort_topk",
    f"""
    SELECT o_orderkey AS order_key, {sql_grid_round('o_totalprice', 2)} AS order_total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "top-100 orders by total price (heap-based TakeOrdered, no full sort)",
)
def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            F.col("o_orderkey").alias("order_key"),
            grid_round_col("o_totalprice", 2).alias("order_total"),
        )
    )


# ---------------------------------------------------------------------------
# D4: seeded exact-n sample — rows-only (rand(seed) is engine-specific)
# ---------------------------------------------------------------------------

@register(
    "seeded_sample",
    """
    SELECT o_orderkey AS order_key, o_custkey AS customer_key
    FROM orders
    ORDER BY md5('s42:' || CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT 1000
    """,
    "deterministic exact-n sample via content-derived md5 ordering",
)
def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.topk import seeded_sample_portable

    orders = load_table(spark, sf_dir, "orders")
    return seeded_sample_portable(orders, 1000, 42, "o_orderkey").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("customer_key"),
    )


# ---------------------------------------------------------------------------
# F2/F3/F4/F7: scalar string/number functions (:76-79,:89-91,:158)
# ---------------------------------------------------------------------------

@register(
    "scalar_functions",
    rf"""
    SELECT p_partkey AS part_key,
           upper(trim(p_brand)) || ' (' || upper(trim(p_type)) || ')' AS brand_label,
           CAST(p_partkey AS VARCHAR) AS part_key_str,
           {sql_grid_round('p_retailprice', 2)} AS retail_price,
           p_retailprice / p_size AS price_per_size,
           TRY_CAST(CASE WHEN p_size % 2 = 0 THEN CAST(p_retailprice AS VARCHAR)
                         ELSE p_name END AS DOUBLE) AS coerced_price,
           round_even(p_partkey / 8.0, 2) AS eighth_banker,
           regexp_extract(upper(trim(p_brand)) || ' (' || upper(trim(p_type)) || ')',
                          '\(([^)]*)\)$', 1) AS unit_extracted
    FROM part
    """,
    "NAME (UNIT) concat, cast-to-string, rounding, derived ratio; F2 family "
    "(null-on-failure try_cast ~ to_numeric(errors='coerce') :76, banker's "
    "bround ~ numpy round-half-even :76,:123 — applied to p_partkey/8, whose "
    "binary repr is exact so Spark/DuckDB tie-rounding agrees) and F9 regexp "
    "extract (:119) folded in so one driver row attests F2+F3+F4+F7+F9",
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("part_key"),
        F.concat(
            F.upper(F.trim("p_brand")), F.lit(" ("), F.upper(F.trim("p_type")), F.lit(")")
        ).alias("brand_label"),
        F.col("p_partkey").cast("string").alias("part_key_str"),
        grid_round_col("p_retailprice", 2).alias("retail_price"),
        (F.col("p_retailprice") / F.col("p_size")).alias("price_per_size"),
        F.when(F.col("p_size") % 2 == 0, F.col("p_retailprice").cast("string"))
        .otherwise(F.col("p_name"))
        .try_cast("double")
        .alias("coerced_price"),
        F.bround(F.col("p_partkey") / 8, 2).alias("eighth_banker"),
        F.regexp_extract(
            F.concat(
                F.upper(F.trim("p_brand")), F.lit(" ("), F.upper(F.trim("p_type")), F.lit(")")
            ),
            r"\(([^)]*)\)$",
            1,
        ).alias("unit_extracted"),
    )


@register(
    "try_cast_round",
    f"""
    SELECT event_id,
           {sql_grid_round("TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)", 2)} AS k_value
    FROM events
    """,
    "null-on-failure cast (pandas to_numeric(errors='coerce') analog) on JSON field",
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        grid_round_col(
            F.get_json_object("props", "$.k").try_cast("double"), 2
        ).alias("k_value"),
    )


# ---------------------------------------------------------------------------
# P8/V3: row → key-value metadata document with nulls dropped
# (utils/upload_data_to_pinecone.py:16)
# ---------------------------------------------------------------------------

@register(
    "metadata_documents",
    """
    SELECT doc_id,
           'doc_id=' || CAST(doc_id AS VARCHAR)
           || '&lang=' || COALESCE(lang, '')
           || '&source=' || COALESCE(source, '')
           || '&n_chars=' || CAST(n_chars AS VARCHAR) AS metadata
    FROM documents
    """,
    "serialize row metadata to a document string (engine also offers to_json)",
)
def q_metadata_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.concat(
            F.lit("doc_id="), F.col("doc_id").cast("string"),
            F.lit("&lang="), F.coalesce("lang", F.lit("")),
            F.lit("&source="), F.coalesce("source", F.lit("")),
            F.lit("&n_chars="), F.col("n_chars").cast("string"),
        ).alias("metadata"),
    )


# ---------------------------------------------------------------------------
# Headline analytics: TPC-H-style queries over the star schema (bench set)
# ---------------------------------------------------------------------------

TPCH_Q1_ORACLE = """
SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1", TPCH_Q1_ORACLE, "pricing summary report (TPC-H Q1 shape)")
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            deterministic_sum("l_quantity").alias("sum_qty"),
            deterministic_sum("l_extendedprice").alias("sum_base_price"),
            deterministic_sum(disc_price).alias("sum_disc_price"),
            deterministic_sum(charge).alias("sum_charge"),
            deterministic_avg("l_quantity").alias("avg_qty"),
            deterministic_avg("l_extendedprice").alias("avg_price"),
            deterministic_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
            "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
            "avg_qty", "avg_price", "avg_disc", "count_order",
        )
    )


TPCH_Q3_ORACLE = """
SELECT l_orderkey AS order_key,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority AS order_priority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, order_key LIMIT 10
"""


@register("tpch_q3", TPCH_Q3_ORACLE, "shipping-priority top-10 (TPC-H Q3 shape)")
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(deterministic_sum(disc_price).alias("revenue"))
        .select(
            F.col("l_orderkey").alias("order_key"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .orderBy(F.col("revenue").desc(), "order_key")
        .limit(10)
    )


TPCH_Q5_ORACLE = """
SELECT n_name AS nation_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("tpch_q5", TPCH_Q5_ORACLE, "local-supplier revenue by nation (TPC-H Q5 shape)")
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(deterministic_sum(disc_price).alias("revenue"))
        .select(F.col("n_name").alias("nation_name"), "revenue")
    )


TPCH_Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


@register("tpch_q6", TPCH_Q6_ORACLE, "forecasting revenue-change filter-agg (TPC-H Q6 shape)")
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            deterministic_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Engine extensions beyond reference semantics: distinct + conditional agg
# (SURVEY §2.5 "Spark gives them free"). Round 2: rollup/cube/grouping-set
# shapes are consolidated into the single `grouping_sets` query
# (registry_ext) and count_if into this one, to keep every distinct
# operator inside the driver's 50-entry CORRECTNESS window; the
# rollup()/cube() DataFrame APIs stay covered by tests/test_grouping.py.
# ---------------------------------------------------------------------------

@register(
    "distinct_agg",
    """
    SELECT o_orderpriority AS order_priority,
           count(DISTINCT o_custkey) AS n_customers,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    "count-distinct + filtered conditional counts (count_if) per group",
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select(
        F.col("o_orderpriority").alias("order_priority"),
        "n_customers", "n_big", "n_finished", "n_orders",
    )
