"""Round-6 operator queries: CDC merge, batch sessionization, gap-fill
resample, interval overlap join, skew-salted join, data-quality
expectations, and PageRank.

Same contract as `registry.py`: every query pairs a Spark DataFrame
program with a DuckDB oracle twin, column names aliased identically,
doubles routed through the exact-decimal trick so value hashes match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleaning import deterministic_sum, oracle_sum_sql
from .registry import register
from .sources.tables import load_table

# Shared oracle CTE: gap-based sessions over events (30-min gap), the
# exact twin of operators/sessionize.sessionize().
_SESSIONS_CTE = """
ordered AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flagged AS (
  SELECT *, CAST(sum(new_flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM ordered
),
sessions AS (
  SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
  FROM flagged GROUP BY user_id, session_seq
)
"""


@register(
    "merge_upsert",
    """
    WITH latest AS (
      SELECT * FROM (
        SELECT o_custkey, o_totalprice, o_orderstatus, o_orderpriority,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) t WHERE rn = 1
    ),
    changes AS (
      SELECT o_custkey AS c_custkey,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS ch_acctbal,
             'PRIO:' || o_orderpriority AS ch_seg
      FROM latest
    )
    SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN c.op IS NOT NULL THEN c.ch_acctbal ELSE b.c_acctbal END AS c_acctbal,
           CASE WHEN c.op IS NOT NULL THEN c.ch_seg ELSE b.c_mktsegment END AS c_mktsegment
    FROM (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer) b
    FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    "CDC MERGE INTO: latest-change-wins upsert/delete onto the base snapshot",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import merge_apply

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D")).otherwise("U").alias("op"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.concat(F.lit("PRIO:"), F.col("o_orderpriority")).alias("c_mktsegment"),
        "o_orderdate",
        "o_orderkey",
    )
    return merge_apply(
        base,
        changes,
        keys=["c_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
    )


@register(
    "sessionize_gaps",
    f"""
    WITH {_SESSIONS_CTE}
    SELECT * FROM sessions
    """,
    "batch gap-based sessionization (lag + cumulative flag sum, 30-min gap)",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events")
    return sessionize(events, gap_seconds=1800)


@register(
    "gap_fill_daily",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events,
             ({oracle_sum_sql('value')} / count(value)) AS day_avg_value
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT u.user_id, CAST(gs.d AS DATE) AS day
      FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1) u,
           LATERAL (SELECT unnest(generate_series(u.d0, u.d1, INTERVAL 1 DAY)) AS d) gs
    )
    SELECT s.user_id, s.day, coalesce(d.n_events, 0) AS n_events,
           last_value(d.day_avg_value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day ROWS UNBOUNDED PRECEDING)
             AS ffill_avg_value
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
    "per-user daily resample: calendar spine + zero-fill + forward-fill",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import gap_fill_daily

    events = load_table(spark, sf_dir, "events")
    return gap_fill_daily(events)


@register(
    "interval_overlap",
    f"""
    WITH {_SESSIONS_CTE},
    incidents AS (
      SELECT DISTINCT date_trunc('hour', ts) AS incident_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS incident_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id, s.session_seq, s.session_start, i.incident_start,
           least(epoch_us(s.session_end), epoch_us(i.incident_end))
             - greatest(epoch_us(s.session_start), epoch_us(i.incident_start))
             AS overlap_us
    FROM sessions s JOIN incidents i
      ON s.session_start < i.incident_end AND i.incident_start < s.session_end
    """,
    "interval×interval overlap join via time-bucket blocking (no theta-join)",
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import interval_overlap_join, sessionize

    events = load_table(spark, sf_dir, "events")
    sessions = sessionize(events, gap_seconds=1800).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    hour = F.date_trunc("hour", F.col("ts"))
    incidents = (
        events.filter(F.col("event_type") == "error")
        .select(
            hour.alias("incident_start"),
            (hour + F.expr("interval 1 hour")).alias("incident_end"),
        )
        .distinct()
    )
    pairs = interval_overlap_join(
        sessions,
        incidents,
        "session_start",
        "session_end",
        "incident_start",
        "incident_end",
        bucket_seconds=3600,
    )
    return pairs.select(
        "user_id",
        "session_seq",
        "session_start",
        "incident_start",
        (
            F.least(F.unix_micros("session_end"), F.unix_micros("incident_end"))
            - F.greatest(F.unix_micros("session_start"), F.unix_micros("incident_start"))
        ).alias("overlap_us"),
    )


@register(
    "skew_salted_join",
    f"""
    SELECT o_orderpriority,
           {oracle_sum_sql('l_extendedprice')} AS sum_price,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    "salted replicate join == plain equi-join (hot-key join mitigation)",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import replicate_broadcast_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = replicate_broadcast_join(li, orders, key="okey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        deterministic_sum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "data_expectations",
    """
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS f0,
             CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 10000000
                           THEN 0 ELSE 1 END) AS BIGINT) AS f2,
             CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                           THEN 0 ELSE 1 END) AS BIGINT) AS f3
      FROM orders
    ),
    uniq AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS f
      FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey) g
    ),
    ref AS (
      -- LEFT JOIN miss-count, NOT "NOT IN": shares check_ref_integrity's
      -- NULL-FK policy (NULL child keys are unverifiable, not failures;
      -- NOT IN degenerates entirely if the parent holds a NULL key)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
             (SELECT CAST(count(*) AS BIGINT)
              FROM orders o
              LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                ON o.o_custkey = c.c_custkey
              WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL) AS f
    )
    SELECT 'not_null:o_custkey' AS check_name, n AS n_rows, f0 AS n_failed, f0 = 0 AS ok FROM agg
    UNION ALL
    SELECT 'in_set:o_orderstatus', n, f1, f1 = 0 FROM agg
    UNION ALL
    SELECT 'in_range:o_totalprice', n, f2, f2 = 0 FROM agg
    UNION ALL
    SELECT 'matches:o_orderpriority', n, f3, f3 = 0 FROM agg
    UNION ALL
    SELECT 'unique:o_orderkey', n, f, f = 0 FROM uniq
    UNION ALL
    SELECT 'ref:o_custkey->c_custkey', n, f, f = 0 FROM ref
    """,
    "declarative data-quality gate: row checks in one scan + key/ref checks",
)
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.expectations import (
        expectation_suite,
        in_range,
        in_set,
        matches,
        not_null,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return expectation_suite(
        orders,
        row_checks=[
            not_null("o_custkey"),
            in_set("o_orderstatus", ["F", "O", "P"]),
            in_range("o_totalprice", 0, 10_000_000),
            matches("o_orderpriority", "^[1-5]-"),
        ],
        unique_keys=[["o_orderkey"]],
        refs=[("o_custkey", customer.select(F.col("c_custkey")), "c_custkey")],
    )


from .registry_text import _QUALITY_SQL  # noqa: E402  (shared oracle expr)

_QUALITY_BINS_SQL = f"""
    WITH scored AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    ),
    ok AS (SELECT * FROM scored WHERE quality IS NOT NULL),
    cuts AS (
      SELECT quantile_cont(quality, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs
      FROM ok
    ),
    binned AS (
      SELECT CAST(1 + len(list_filter(cs, c -> quality > c)) AS BIGINT) AS bin,
             quality
      FROM ok, cuts
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(floor(quality * 1073741824.0) AS BIGINT)) AS DOUBLE)
             / count(quality) / 1073741824.0 AS mean_quality
    FROM binned GROUP BY bin
    """


@register(
    "triangle_count",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS x, b.l_partkey AS y
              FROM op a JOIN op b USING (l_orderkey)
              WHERE a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
    nodes AS (SELECT DISTINCT n FROM (SELECT x AS n FROM pairs
                                      UNION ALL SELECT y FROM pairs) t),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e1.y = e2.x
      JOIN pairs e3 ON e3.x = e1.x AND e3.y = e2.y
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles
    """,
    "degree-ordered-orientation triangle count on the co-purchase graph",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the REPEATED co-purchase graph (pairs co-occurring
    in >= 2 orders): the multiplicity threshold is the standard noise
    prune and keeps the wedge stage proportional to genuinely related
    items rather than the dense raw co-occurrence graph."""
    from .operators.graph import copurchase_edges, triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    return triangle_count(copurchase_edges(li, min_pair_count=2))


@register(
    "fuzzy_name_join",
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_nationkey = 3)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS text_a, b.c_name AS text_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    "record linkage: symmetric-delete blocked fuzzy join == naive lev<=1 pairs",
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.fuzzy import fuzzy_self_join

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 3)
        .select("c_custkey", "c_name")
    )
    out = fuzzy_self_join(cust, "c_custkey", "c_name", max_dist=1)
    return out.select(
        "id_a", "id_b", "text_a", "text_b", F.col("dist").cast("bigint").alias("dist")
    )


@register(
    "quality_bins",
    _QUALITY_BINS_SQL,
    "curriculum decile binning: exact quantile cuts broadcast, scan-local assignment",
)
def q_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-quantile curriculum bins WITHOUT a global sort: the 9 decile
    cut points are one exact-percentile aggregate (1 row, broadcast); bin
    assignment is a scan-local fold over the cut array; the per-bin stats
    are an ordinary 10-group aggregation. ntile() would need a global
    single-task window — this shape is the 100 TB-safe equivalent
    (equal-count up to ties at the cut values).

    Scale note: F.percentile is EXACT (sort-based, O(n) state in one
    aggregation buffer) — chosen here for oracle parity. At 100 TB swap
    the cut computation to approx_percentile(..., accuracy) — the rest
    of the plan (broadcast cuts, fold assignment) is unchanged."""
    from .functions.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).filter(F.col("quality").isNotNull())
    cuts = scored.agg(
        F.percentile("quality", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])).alias(
            "cs"
        )
    )
    binned = scored.crossJoin(F.broadcast(cuts)).select(
        (
            F.aggregate(
                "cs",
                F.lit(0),
                lambda acc, c: acc + F.when(F.col("quality") > c, 1).otherwise(0),
            ).cast("bigint")
            + 1
        ).alias("bin"),
        "quality",
    )
    # Arbitrary-double averaging needs MORE than the decimal-sum trick:
    # decimal(_,6) can hit a Spark-HALF_UP vs DuckDB rounding tie, and
    # high scales diverge in ulps (DuckDB casts double→decimal via a
    # double multiply by 10^scale; Spark via exact BigDecimal — both
    # observed at sf0.01). Dyadic-grid integer sums are exact on both:
    # ×2^30 and floor are exact double ops, the BIGINT sum is exact, and
    # the final two divisions are a pinned double expression.
    grid = F.lit(1073741824.0)  # 2^30
    qint = F.floor(F.col("quality") * grid)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(qint).cast("double") / F.count("quality") / grid).alias("mean_quality"),
    )


@register(
    "events_twap",
    """
    WITH held AS (
      SELECT user_id, CAST(floor((value * 100) + 0.5) AS BIGINT) AS v,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS w
      FROM events
    )
    SELECT user_id,
           CASE WHEN coalesce(sum(w), 0) > 0
                THEN CAST(CAST(sum(v * w) AS BIGINT) AS DOUBLE)
                     / CAST(sum(w) AS BIGINT) / 100.0 END AS twap,
           CAST(coalesce(sum(w), 0) AS BIGINT) AS total_us,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM held GROUP BY user_id
    """,
    "per-user time-weighted average over irregular samples (decimal-exact)",
)
def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import time_weighted_avg

    events = load_table(spark, sf_dir, "events")
    return time_weighted_avg(events)


@register(
    "rolling_anomaly",
    """
    WITH hourly AS (
      SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hr, n_events,
           CAST(sum(n_events) OVER w AS DOUBLE) / count(n_events) OVER w AS trailing_mean,
           CASE WHEN (sum(n_events * n_events) OVER w
                       - CAST(sum(n_events) OVER w AS DOUBLE) * sum(n_events) OVER w
                         / count(n_events) OVER w)
                     / (count(n_events) OVER w - 1) > 0
                THEN (n_events - CAST(sum(n_events) OVER w AS DOUBLE)
                                 / count(n_events) OVER w)
                     / sqrt((sum(n_events * n_events) OVER w
                             - CAST(sum(n_events) OVER w AS DOUBLE) * sum(n_events) OVER w
                               / count(n_events) OVER w)
                            / (count(n_events) OVER w - 1))
           END AS z_score
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hr
                 RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
    """,
    "trailing-24h RANGE-frame z-score per (event_type, hour) from exact sums",
)
def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import rolling_hourly_anomaly

    events = load_table(spark, sf_dir, "events")
    return rolling_hourly_anomaly(events, trailing_hours=24)


@register(
    "bpe_train",
    None,  # iterative global argmax — not SQL-expressible; rows-only at the
    # driver, exact parity with a pure-Python trainer pinned in
    # tests/test_ops_round6.py
    "full BPE tokenizer training loop on the distinct-word frequency table",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.bpe import bpe_rules_df, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe_train(docs, "text", n_merges=6, min_count=2)
    return bpe_rules_df(spark, rules)


_PR_ITER = """
m{i} AS (SELECT e.dst AS node,
              CAST(sum(CAST(floor((r.rank / d.outdeg) * 1099511627776.0) AS BIGINT))
                   AS BIGINT) / 1099511627776.0 AS in_mass
       FROM edges e JOIN deg d ON e.src = d.src JOIN r{prev} r ON e.src = r.node
       GROUP BY e.dst),
r{i} AS (SELECT n.node, (CAST(1 AS DOUBLE) - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(m.in_mass, CAST(0 AS DOUBLE)) AS rank
       FROM nodes n LEFT JOIN m{i} m ON n.node = m.node)"""

_PR_SQL = (
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
              FROM op a JOIN op b USING (l_orderkey) WHERE a.l_partkey < b.l_partkey),
    edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),"""
    + ",".join(_PR_ITER.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
    SELECT node AS part, rank FROM r3 ORDER BY rank DESC, node LIMIT 50
    """
)


@register(
    "pagerank_parts",
    _PR_SQL,
    "3-iteration PageRank on the part co-purchase graph (dyadic-grid-exact mass sums)",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import copurchase_pairs, pagerank, symmetric_edges

    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(li)
    ranks = pagerank(symmetric_edges(pairs), iters=3, damping=0.85, symmetric=True)
    return (
        ranks.select(F.col("node").alias("part"), "rank")
        .orderBy(F.col("rank").desc(), "part")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Snapshot time travel (sources/snapshots.py) — r04 verdict task 4: the
# manifest-versioning layer was tests-only; this query commits two table
# versions and reads BOTH back through the manifests, so the driver's
# oracle gate attests the read path end-to-end. The oracle recomputes
# the per-version content (row count + portable md5 content hash) from
# the orders view directly — what each version MUST contain by
# construction (v0 = 'F'-status orders, v1 = v0 plus appended
# 'O'-status orders).
# ---------------------------------------------------------------------------

def _snapshot_row_hash_sql() -> str:
    from .operators.dedup import oracle_md5_int_sql

    expr = "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus"
    # 8 nibbles (< 2^32) keeps the bigint sum overflow-free at any sf
    return oracle_md5_int_sql(expr, seed=11, nibbles=8)


SNAPSHOT_READ_ORACLE = f"""
WITH v0 AS (
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
),
v1 AS (
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    WHERE o_orderstatus = 'F' OR o_orderstatus = 'O'
)
SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum({_snapshot_row_hash_sql()}), 0) AS BIGINT) AS content_sum
FROM v0
UNION ALL
SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum({_snapshot_row_hash_sql()}), 0) AS BIGINT) AS content_sum
FROM v1
"""


@register(
    "snapshot_read",
    SNAPSHOT_READ_ORACLE,
    "manifest time travel: commit v0 + append v1, read both versions back, content-hash each",
)
def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes snapshots to a per-call temp dir, reads both versions back
    through their manifests, summarizes (version, n_rows, md5 content
    sum), then eagerly checkpoints the 2-row result so the temp table
    dir can be removed before returning (the caller's later collect
    must not depend on the files)."""
    import shutil
    import tempfile

    from .operators.dedup import md5_int
    from .session import checkpoint
    from .sources.snapshots import read_snapshot, write_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    tmp = tempfile.mkdtemp(prefix="snapshot_read_")
    try:
        v0 = write_snapshot(orders.filter(F.col("o_orderstatus") == "F"), tmp)
        v1 = write_snapshot(orders.filter(F.col("o_orderstatus") == "O"), tmp, mode="append")

        def summary(version: int) -> DataFrame:
            df = read_snapshot(spark, tmp, version)
            row_hash = md5_int(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                ),
                seed=11,
                nibbles=8,
            )
            return df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum(row_hash), F.lit(0)).cast("bigint").alias("content_sum"),
            ).select(
                F.lit(version).cast("int").alias("version"), "n_rows", "content_sum"
            )

        out = checkpoint(summary(v0).unionByName(summary(v1)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Table diff / reconciliation (operators/merge.table_diff): computes the
# change stream between two table versions — CDC capture's batch twin,
# and the verification step after a backfill. Versions are derived
# deterministically from orders: v_old = 'F'-status rows; v_new = the
# same rows minus every 7th key (removed), with every 10th key's clerk
# tagged (changed), plus the 'P'-status rows (added).
# ---------------------------------------------------------------------------

TABLE_DIFF_ORACLE = """
WITH v_old AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderstatus = 'F'
),
v_new AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_orderpriority || '#edited' ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderstatus = 'P'
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
              OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
              OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'changed'
       END AS status
FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
             OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
             OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'changed'
      END IS NOT NULL
"""


@register(
    "table_diff",
    TABLE_DIFF_ORACLE,
    "version reconciliation: added/removed/changed keys between two table versions (slim key+fingerprint full-outer join)",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import table_diff

    orders = load_table(spark, sf_dir, "orders")
    v_old = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    v_new = (
        orders.filter((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 != 0))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.concat(F.col("o_orderpriority"), F.lit("#edited")),
            ).otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
        )
        .unionByName(
            orders.filter(F.col("o_orderstatus") == "P").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
            )
        )
    )
    return table_diff(
        v_old, v_new, ["o_orderkey"], ["o_custkey", "o_orderstatus", "o_orderpriority"]
    )


# ---------------------------------------------------------------------------
# CDC capture (operators/merge.table_diff_cdc): the applyable change
# stream between two versions — closure of table_diff with merge_apply
# (roundtrip property pinned in tests/test_operators.py). Same derived
# versions as the table_diff fixture.
# ---------------------------------------------------------------------------

TABLE_DIFF_CDC_ORACLE = """
WITH v_old AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderstatus = 'F'
),
v_new AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_orderpriority || '#edited' ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderstatus = 'P'
),
d AS (
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'changed'
           END AS status
    FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
)
SELECT n.o_orderkey, 'U' AS op, n.o_custkey, n.o_orderstatus, n.o_orderpriority,
       1 AS _seq
FROM v_new n JOIN d ON n.o_orderkey = d.o_orderkey
WHERE d.status IN ('added', 'changed')
UNION ALL
SELECT d.o_orderkey, 'D' AS op, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), 1 AS _seq
FROM d WHERE d.status = 'removed'
"""


@register(
    "table_diff_cdc",
    TABLE_DIFF_CDC_ORACLE,
    "CDC capture: applyable upsert/delete change stream between two table versions (merge_apply closure)",
)
def q_table_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import table_diff_cdc

    orders = load_table(spark, sf_dir, "orders")
    v_old = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    v_new = (
        orders.filter((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 != 0))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.concat(F.col("o_orderpriority"), F.lit("#edited")),
            ).otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
        )
        .unionByName(
            orders.filter(F.col("o_orderstatus") == "P").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
            )
        )
    )
    return table_diff_cdc(v_old, v_new, ["o_orderkey"])


_LPA_ROUNDS = 3


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    # one CTE per synchronous round; mode-of-neighbor-labels with the
    # deterministic (count DESC, label ASC) tie rule
    ctes = [
        """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS x, b.l_partkey AS y
              FROM op a JOIN op b USING (l_orderkey)
              WHERE a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
    und AS (SELECT CAST(x AS BIGINT) AS n, CAST(y AS BIGINT) AS m FROM pairs
            UNION ALL
            SELECT CAST(y AS BIGINT) AS n, CAST(x AS BIGINT) AS m FROM pairs),
    l0 AS (SELECT n, n AS label FROM (SELECT DISTINCT n FROM und))"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""
    l{r} AS (
        SELECT n, label FROM (
            SELECT u.n, l.label,
                   row_number() OVER (PARTITION BY u.n
                                      ORDER BY count(*) DESC, l.label) AS rn
            FROM und u JOIN l{r - 1} l ON l.n = u.m
            GROUP BY u.n, l.label
        ) WHERE rn = 1
    )""")
    return (
        "WITH " + ",".join(ctes) + f"\n    SELECT n, label FROM l{rounds}"
    )


@register(
    "label_propagation",
    _lpa_oracle(),
    "deterministic synchronous label propagation (3 rounds, neighbor-mode "
    "labels, ties to smallest) on the repeated co-purchase graph",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the repeated co-purchase graph
    (operators/graph.label_propagation): 3 synchronous rounds of
    adopt-the-neighbor-mode with ties to the smallest label — the
    deterministic LPA variant, so the DuckDB twin unrolls the same 3
    rounds and matches exactly. Complements the CC family (min-label
    convergence) with the densely-knit-community grouping curation
    pipelines use to diversify sampling. Per round: one edge-sized
    join exchange + one map-side-combined (node, label) count."""
    from .operators.graph import copurchase_edges, label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, min_pair_count=2).select("src", "dst")
    return label_propagation(edges, rounds=_LPA_ROUNDS).select(
        F.col("n").cast("bigint").alias("n"), F.col("label").cast("bigint").alias("label")
    )


_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    # one degree/survivor CTE pair per synchronous peel round, unrolled
    # exactly like the Spark loop (bounded rounds ARE the semantics)
    ctes = [
        """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS x, b.l_partkey AS y
              FROM op a JOIN op b USING (l_orderkey)
              WHERE a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
    und AS (SELECT CAST(x AS BIGINT) AS n, CAST(y AS BIGINT) AS m FROM pairs
            UNION ALL
            SELECT CAST(y AS BIGINT) AS n, CAST(x AS BIGINT) AS m FROM pairs),
    s0 AS (SELECT DISTINCT n FROM und)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""
    d{r} AS (
        SELECT u.n, count(*) AS deg
        FROM und u
        JOIN s{r - 1} a ON a.n = u.n
        JOIN s{r - 1} b ON b.n = u.m
        GROUP BY u.n
    ),
    s{r} AS (SELECT n FROM d{r} WHERE deg >= {k})""")
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT u.n, CAST(count(*) AS BIGINT) AS deg
    FROM und u
    JOIN s{rounds} a ON a.n = u.n
    JOIN s{rounds} b ON b.n = u.m
    GROUP BY u.n"""
    )


@register(
    "kcore_nodes",
    _kcore_oracle(),
    f"bounded-round k-core peel (k={_KCORE_K}, {_KCORE_ROUNDS} rounds) on the "
    "repeated co-purchase graph: survivors + induced degree",
)
def q_kcore_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling (operators/graph.kcore_peel): drop
    degree<k nodes for a fixed number of synchronous rounds, report
    survivors with their induced-subgraph degree — the dense-core
    quality prior on link/co-occurrence graphs (superset of the true
    k-core, equal at convergence; the oracle unrolls the identical
    rounds). Per round one edge⋈survivor join pair (AQE-broadcast) +
    one map-side-combined degree count; lineage localCheckpoint-cut."""
    from .operators.graph import copurchase_edges, kcore_peel

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, min_pair_count=2).select("src", "dst")
    return kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# k-anonymity audit: the privacy gate a corpus passes before release
# ---------------------------------------------------------------------------

_KANON_K = 5

KANON_ORACLE = f"""
WITH q AS (
    SELECT event_type,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour_of_day,
           CAST(CASE WHEN value < 10 THEN 0 WHEN value < 100 THEN 1 ELSE 2 END
                AS INTEGER) AS value_band,
           user_id
    FROM events
)
SELECT event_type, hour_of_day, value_band,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       count(*) < {_KANON_K} AS below_k
FROM q GROUP BY event_type, hour_of_day, value_band
"""


@register(
    "k_anonymity",
    KANON_ORACLE,
    f"k-anonymity audit (k={_KANON_K}): equivalence-class sizes over the "
    "quasi-identifier tuple (type, hour, value band) with below-k flags",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweeney's k-anonymity check as one grouped aggregate over the
    quasi-identifier projection — the audit a training corpus passes
    before release (every equivalence class must hold >= k records or
    be generalized/suppressed). One map-side-combined exchange keyed by
    the QI tuple; COUNT DISTINCT expands map-side; the value band is an
    integer CASE, not a float bucketer, so classes are engine-exact."""
    events = load_table(spark, sf_dir, "events")
    q = events.select(
        "event_type",
        F.hour("ts").cast("int").alias("hour_of_day"),
        F.when(F.col("value") < 10, 0)
        .when(F.col("value") < 100, 1)
        .otherwise(2)
        .cast("int")
        .alias("value_band"),
        "user_id",
    )
    return q.groupBy("event_type", "hour_of_day", "value_band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        (F.count(F.lit(1)) < _KANON_K).alias("below_k"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — the oracle row for the data-skipping
# layout family (sources/sinks.zorder_key; the key derivation is exactly
# twinnable: min/max bounds, IEEE double scaling, integer bit interleave)
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits/dim x 2 dims = 16-bit Morton key


def _zorder_oracle() -> str:
    b = _Z_BITS
    mx = 2**b - 1
    # identical op order to sources/sinks.zorder_key: scale to double,
    # truncate to integer (values are >= 0 by bounds construction, so
    # DuckDB floor == Spark's toward-zero long cast), clamp, interleave
    def scaled(col: str, lo: str, hi: str) -> str:
        return (
            f"least({mx}, greatest(0, CAST(floor("
            f"(CAST({col} AS DOUBLE) - {lo}) / "
            f"(CASE WHEN ({hi} - {lo}) = 0 THEN 1.0 ELSE ({hi} - {lo}) END) "
            f"* {float(mx)!r}) AS BIGINT)))"
        )

    interleave = " + ".join(
        f"((( _s{j} >> {i}) & 1) << {i * 2 + j})"
        for i in range(b)
        for j in range(2)
    )
    return f"""
WITH bounds AS (
    SELECT CAST(min(o_custkey) AS DOUBLE) AS lo0, CAST(max(o_custkey) AS DOUBLE) AS hi0,
           CAST(min(o_totalprice) AS DOUBLE) AS lo1, CAST(max(o_totalprice) AS DOUBLE) AS hi1
    FROM orders
),
s AS (
    SELECT o_orderkey,
           {scaled('o_custkey', 'lo0', 'hi0')} AS _s0,
           {scaled('o_totalprice', 'lo1', 'hi1')} AS _s1
    FROM orders CROSS JOIN bounds
)
SELECT o_orderkey AS order_key, CAST({interleave} AS BIGINT) AS zkey FROM s
"""


@register(
    "zorder_key_map",
    _zorder_oracle(),
    f"Morton (Z-order) clustering key over (o_custkey, o_totalprice) at "
    f"{_Z_BITS} bits/dim — the multi-dimensional data-skipping sort key",
)
def q_zorder_key_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order clustering key, as an oracle-checked projection:
    one tiny min/max bounds aggregate (collected — two doubles, the
    kmeans-centroid pattern), then a scan-local pure
    integer/IEEE expression per row (no UDF, whole-stage codegen).
    Engine-exactness: the double scaling is the same op sequence in
    both engines (IEEE ops are correctly rounded; inputs >= bounds-min
    make truncation == floor), and the bit interleave is integer
    shifts.  A clustered write feeds this key to repartitionByRange +
    sortWithinPartitions so every parquet file covers a tight rectangle
    of the clustered space — predicates on EITHER column prune most row
    groups."""
    from .sources.sinks import zorder_bounds, zorder_key

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice"]
    key = zorder_key(cols, zorder_bounds(orders, cols), bits=_Z_BITS)
    return orders.select(
        F.col("o_orderkey").alias("order_key"), key.alias("zkey")
    )


# ---------------------------------------------------------------------------
# BPE encode (functions/bpe.bpe_encode_arrow): apply the trained merge table
# to the corpus — upgrades the BPE family from rows-only (bpe_train's
# iterative argmax) to an exact-oracle row by UNROLLING the 6 training
# rounds in SQL and replaying the greedy merge fold per word with
# list_reduce (leading-separator invariant: acc ends with SEP||l and
# next symbol == r  <=>  Spark's element_at(acc,-1)==l merge — symbols
# are SEP-free, so the string form is exact)
# ---------------------------------------------------------------------------

_BPE_MERGES = 6
_BPE_MIN_COUNT = 2
_BPE_SEP = "chr(31)"


def _bpe_fold(src: str, bl: str, br: str) -> str:
    """One merge round: fold the SEP-prepended symbol string ``src``
    under rule (bl, br); NULL rule (early-stopped round) is identity."""
    s = _BPE_SEP
    return (
        f"list_reduce(string_split({src}, {s}), (acc, x) -> "
        f"CASE WHEN {bl} IS NOT NULL AND ends_with(acc, {s} || {bl}) "
        f"AND x = {br} THEN acc || x ELSE acc || {s} || x END)"
    )


def _bpe_encode_oracle() -> str:
    from .registry_text import TOKS_SQL

    s = _BPE_SEP
    rounds = []
    for k in range(1, _BPE_MERGES + 1):
        prev = f"v{k - 1}"
        rounds.append(f"""
p{k} AS (
    SELECT parts[i] AS l, parts[i + 1] AS r, sum(weight) AS n
    FROM (SELECT parts, weight,
                 unnest(range(2, greatest(len(parts) - 1, 1) + 1)) AS i
          FROM (SELECT string_split(s, {s}) AS parts, weight FROM {prev}))
    GROUP BY 1, 2
),
b{k} AS (
    SELECT (SELECT l FROM p{k} WHERE n >= {_BPE_MIN_COUNT}
            ORDER BY n DESC, l, r LIMIT 1) AS bl,
           (SELECT r FROM p{k} WHERE n >= {_BPE_MIN_COUNT}
            ORDER BY n DESC, l, r LIMIT 1) AS br
),
v{k} AS (
    SELECT {_bpe_fold('s', 'bl', 'br')} AS s, weight
    FROM {prev} CROSS JOIN b{k}
)""")
        # NOTE: parts[1] is the '' sentinel (leading separator), so
        # adjacent pairs run over positions 2..len-1 — matching the
        # Spark trainer's pair stream over the raw symbol array.
    enc = "s0"
    for k in range(1, _BPE_MERGES + 1):
        enc = _bpe_fold(enc, f"b{k}.bl", f"b{k}.br")
    joins = " ".join(f"CROSS JOIN b{k}" for k in range(1, _BPE_MERGES + 1))
    return f"""
WITH wf AS (
    SELECT word, count(*) AS weight
    FROM (SELECT unnest({TOKS_SQL}) AS word FROM documents)
    GROUP BY 1
),
v0 AS (
    SELECT {s} || array_to_string(string_split(word, ''), {s}) AS s, weight
    FROM wf
),
{','.join(rounds)},
dw AS (
    SELECT word, {enc.replace('s0', f"{s} || array_to_string(string_split(word, ''), {s})")} AS enc
    FROM wf {joins}
),
dwp AS (
    SELECT word, string_split(enc, {s})[2:] AS pieces FROM dw
),
occ AS (
    SELECT doc_id, t FROM (SELECT doc_id, unnest({TOKS_SQL}) AS t FROM documents)
),
per_tok AS (
    SELECT o.doc_id, o.t, len(p.pieces) AS np
    FROM occ o JOIN dwp p ON p.word = o.t
),
base AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(np) AS BIGINT) AS n_pieces
    FROM per_tok GROUP BY 1
),
dp AS (
    SELECT DISTINCT d.doc_id, up.piece
    FROM (SELECT DISTINCT doc_id, t FROM occ) d
    JOIN dwp p ON p.word = d.t
    CROSS JOIN unnest(p.pieces) AS up(piece)
),
dpc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_pieces FROM dp GROUP BY 1)
SELECT b.doc_id, b.n_tokens, b.n_pieces, c.n_distinct_pieces
FROM base b JOIN dpc c ON c.doc_id = b.doc_id
"""


@register(
    "bpe_encode_stats",
    _bpe_encode_oracle(),
    f"apply the {_BPE_MERGES}-merge BPE table to the corpus: per-doc token, "
    "subword-piece, and distinct-piece counts (exact unrolled-training oracle)",
)
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (driver loop, deterministic ties) then encode in ONE scan.
    The merge table is applied by the Arrow-batched twin
    (functions/bpe.bpe_encode_arrow): one pandas_udf pass per batch
    replaces n_merges interpreted expression folds per word, and the
    tokenize runs once feeding both the token count and the encoder
    (r12 opt, 0.75× same-session A/B; arithmetic pinned to the
    expression form — which the oracle SQL mirrors — by
    tests/test_opt_r12b.py). Encoding stays embarrassingly parallel
    over documents; the only exchange is the source scan itself.
    Zero-token documents carry no pieces and are excluded on both
    sides."""
    from .functions.bpe import bpe_encode_arrow, bpe_train
    from .operators.dedup import tokenize
    from .sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    rules = bpe_train(docs, "text", n_merges=_BPE_MERGES, min_count=_BPE_MIN_COUNT)
    toked = docs.select("doc_id", tokenize(F.col("text")).alias("_toks"))
    return (
        toked.select(
            "doc_id",
            F.size("_toks").cast("bigint").alias("n_tokens"),
            bpe_encode_arrow(F.col("_toks"), rules).alias("_enc"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.size("_enc").cast("bigint").alias("n_pieces"),
            F.size(F.array_distinct("_enc")).cast("bigint").alias("n_distinct_pieces"),
        )
    )
