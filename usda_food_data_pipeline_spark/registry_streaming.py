"""Windowed-aggregation queries (engine streaming extension, SURVEY §2.8).

These run in batch mode over the static ``events`` table so the DuckDB
oracle can check them; the same functions accept a readStream DataFrame
unchanged (tests exercise that path). No reference file:line — marked
extensions in SURVEY §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import register
from .sources.tables import load_table
from .streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

# events.ts is TIMESTAMP_NS in the parquet; cast to microseconds first
# (matches the Spark-side load, sources/tables.load_events).
TS_US = "CAST(ts AS TIMESTAMP)"


@register(
    "window_tumbling_sliding",
    f"""
    WITH tumb AS (
        SELECT 'tumbling' AS w_kind,
               CAST(epoch(time_bucket(INTERVAL '1 hour', {TS_US})) AS BIGINT) AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 2, 3
    ),
    expanded AS (
        SELECT time_bucket(INTERVAL '30 minutes', {TS_US}) AS w, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', {TS_US}) - INTERVAL '30 minutes' AS w, value
        FROM events
    ),
    slid AS (
        SELECT 'sliding' AS w_kind,
               CAST(epoch(w) AS BIGINT) AS window_start,
               CAST(NULL AS VARCHAR) AS event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        FROM expanded GROUP BY 2
    )
    SELECT * FROM tumb UNION ALL SELECT * FROM slid
    """,
    "tumbling 1h per-type + sliding 1h/30m window aggs in one attestation "
    "(merged round 4 to free a driver slot; both operators keep their own "
    "streaming-path tests)",
)
def q_window_tumbling_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    tumb = tumbling_window_agg(events, "1 hour").select(
        F.lit("tumbling").alias("w_kind"),
        "window_start",
        "event_type",
        "n_events",
        "sum_value",
    )
    slid = sliding_window_agg(events, "1 hour", "30 minutes").select(
        F.lit("sliding").alias("w_kind"),
        "window_start",
        F.lit(None).cast("string").alias("event_type"),
        "n_events",
        "sum_value",
    )
    return tumb.unionAll(slid)


@register(
    "window_session",
    """
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sessions AS (
        -- event_id tiebreak: duplicate (user, ts) rows must see the same
        -- ordering in both window passes or tied events can split sessions
        SELECT user_id, us,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(us) AS session_start_us,
           max(us) + 1800000000 AS session_end_us,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    "session windows (30m gap) per user: gaps-and-islands oracle",
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return session_window_agg(events, "30 minutes")


@register(
    "events_agg",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
    "per-type event rollup with JSON field extraction (P8 + A1 over events)",
)
def q_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.cleaning import deterministic_sum

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        deterministic_sum("value").alias("sum_value"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


@register(
    "funnel_conversion",
    """
    WITH p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'view'
    ),
    conv AS (
        SELECT p.user_id, p.event_id,
               EXISTS (SELECT 1 FROM v
                       WHERE v.user_id = p.user_id
                         AND v.ts <= p.ts
                         AND v.ts >= p.ts - INTERVAL 30 MINUTE) AS converted
        FROM p
    )
    SELECT user_id,
           count(*) AS n_purchases,
           CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM conv GROUP BY user_id
    """,
    "view→purchase funnel: purchases preceded by a view within 30min per user",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .streaming.joins import streaming_funnel

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    # the SAME time-bounded semi-join the streaming funnel runs —
    # watermark=None yields the batch-equivalent plan
    # (tests/test_streaming.py::test_streaming_funnel_matches_batch pins
    # streaming output to this twin)
    converted = streaming_funnel(events, max_lag="30 minutes", watermark=None)
    totals = purchases.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_purchases"))
    conv_counts = converted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_converted")
    )
    return totals.join(conv_counts, "user_id", "left").select(
        "user_id",
        "n_purchases",
        F.coalesce("n_converted", F.lit(0).cast("long")).alias("n_converted"),
    )


@register(
    "events_outliers",
    """
    WITH stats AS (
        SELECT user_id, sum(CAST(value AS DECIMAL(30,6))) AS s, count(*) AS n
        FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN e.value > 2 * (CAST(s.s AS DOUBLE) / s.n) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM events e JOIN stats s USING (user_id)
    GROUP BY e.user_id
    """,
    "per-user outlier counts: events exceeding 2x the user's mean value "
    "(decimal-exact mean; one user_id partitioning reused across agg + join + re-agg)",
)
def q_events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly screen over the event stream — the monitoring
    rollup (fraud/abuse triage) an event warehouse serves. The user
    mean comes from a DECIMAL(30,6) sum (aggregation-order-independent,
    so the >2x flag is identical on any engine); every operator keys
    on user_id — the executed plan carries ONE user_id hash exchange
    (the stats aggregate; AQE broadcasts the small per-user stats back
    onto the unshuffled event scan), and at dim sizes past the
    broadcast threshold the same partitioning serves join and
    rollup."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(30,6)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    mean2 = F.lit(2) * (F.col("_s").cast("double") / F.col("_n"))
    return (
        events.join(stats, "user_id")
        .withColumn("_flag", F.when(F.col("value") > mean2, 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_flag").cast("long").alias("n_outliers"),
        )
    )
