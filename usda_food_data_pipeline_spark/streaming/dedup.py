"""Stream-stream joins (engine extension).

Both sides are watermarked and joined under an event-time range
predicate, so the join state is evictable. ``streaming_funnel`` is the
streaming twin of the batch ``funnel_conversion`` query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    watermark: str | None = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join two event streams on key, where the right event happened
    within [left.ts - max_lag, left.ts]. The time bound + watermarks
    make the join state finite (Spark evicts rows whose event time can
    no longer match). ``how="left_semi"`` keeps left rows with at least
    one in-window match (the funnel shape). ``watermark=None`` skips
    the watermark so the same plan runs on batch inputs — the batch
    twin the streaming tests compare against."""
    l, r = left, right
    if watermark is not None:
        l = l.withWatermark(ts_col, watermark)
        r = r.withWatermark(ts_col, watermark)
    l, r = l.alias("l"), r.alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {max_lag}"))
    )
    return l.join(r, cond, how)


def streaming_funnel(
    events: DataFrame,
    ts_col: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """view→purchase conversion as a time-bounded stream-stream SEMI
    join: purchases that were preceded by a view from the same user
    within ``max_lag``. The streaming twin of the batch
    ``funnel_conversion`` query (registry_streaming.q_funnel) — same
    predicate, same join type; pass ``watermark=None`` to run it on a
    batch DataFrame and get the exact batch-equivalent plan."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", ts_col, "event_id"
    )
    views = events.filter(F.col("event_type") == "view").select("user_id", ts_col)
    return stream_stream_join(
        purchases, views, "user_id", ts_col, watermark, max_lag, how="left_semi"
    )
