"""Streaming state-size evidence (r06 verdict task 7).

The stateful streaming operators have correctness twins but previously
no measurement that their STATE is bounded by the watermark horizon.
At 100 TB/day the difference between O(keys-in-window) and O(stream)
state is the difference between a running job and an OOM-ing one, so
this pins the state-store row counts reported by the engine
(``lastProgress.stateOperators[].numRowsTotal``) under watermark
eviction:

- a 100-hour event stream arrives as 10 time-ordered micro-batches
  (file source, maxFilesPerTrigger=1), watermark 2 hours;
- the windowed aggregate's final state must hold only the un-emitted
  tail of windows behind the watermark — never all 500 (window, key)
  groups the stream contains;
- scaling the PER-WINDOW volume 10× must leave the state row count
  EXACTLY unchanged (state tracks groups, not rows) while the input
  row count differs 10×.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.streaming.windows import tumbling_window_agg
import pytest

N_HOURS = 100
N_FILES = 10
KEYS = ["a", "b", "c", "d", "e"]


def _write_stream_files(spark, base: str, rows_per_group: int) -> int:
    """10 parquet files, each covering 10 consecutive hours, written in
    time order with strictly increasing mtimes so the file source
    replays them as ordered micro-batches. Returns total rows."""
    total = 0
    hours_per_file = N_HOURS // N_FILES
    for i in range(N_FILES):
        h0 = i * hours_per_file
        df = (
            spark.range(hours_per_file * len(KEYS) * rows_per_group)
            .select(
                (F.lit(h0) + (F.col("id") % hours_per_file)).alias("_h"),
                F.element_at(
                    F.array(*[F.lit(k) for k in KEYS]),
                    ((F.col("id") / hours_per_file) % len(KEYS)).cast("int") + 1,
                ).alias("event_type"),
                (F.col("id") % 7).cast("double").alias("value"),
            )
            .select(
                F.timestamp_seconds(F.col("_h") * 3600 + 60).alias("ts"),
                "event_type",
                "value",
            )
        )
        path = os.path.join(base, f"part{i:02d}")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        # one flat dir of files for readStream; bump mtime per file so
        # the source's modification-time ordering matches event time
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                src = os.path.join(path, f)
                dst = os.path.join(base, f"f{i:02d}.parquet")
                os.replace(src, dst)
                ts = time.time() - (N_FILES - i) * 10
                os.utime(dst, (ts, ts))
        total += hours_per_file * len(KEYS) * rows_per_group
    return total


def _final_state_rows(spark, base: str) -> tuple[int, int]:
    """Run the watermarked tumbling aggregate over the staged files one
    micro-batch at a time; return (state rows after the last batch,
    emitted result rows)."""
    schema = spark.read.parquet(os.path.join(base, "f00.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "f*.parquet"))
    )
    agg = tumbling_window_agg(stream, "1 hour", watermark="2 hours")
    name = f"state_probe_{abs(hash(base)) % 10**8}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        prog = q.lastProgress
        state_rows = sum(op["numRowsTotal"] for op in prog["stateOperators"])
        emitted = spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"]
    finally:
        q.stop()
    return state_rows, emitted


@pytest.mark.slow
def test_windowed_state_is_watermark_bounded_not_stream_bounded(spark, tmp_path):
    base1 = str(tmp_path / "v1")
    base10 = str(tmp_path / "v10")
    os.makedirs(base1), os.makedirs(base10)
    n1 = _write_stream_files(spark, base1, rows_per_group=4)
    n10 = _write_stream_files(spark, base10, rows_per_group=40)
    assert n10 == 10 * n1  # the volume axis actually moved

    state1, emitted1 = _final_state_rows(spark, base1)
    state10, emitted10 = _final_state_rows(spark, base10)

    total_groups = N_HOURS * len(KEYS)  # 500 (window, key) groups overall
    # (a) state holds only the un-evicted tail behind the 2-hour
    # watermark — with 10-hour batches the lag is at most one batch of
    # windows plus the horizon: <= (10 + 2 + 1) hours x 5 keys
    bound = (N_HOURS // N_FILES + 3) * len(KEYS)
    assert 0 < state1 <= bound, (state1, bound)
    assert state1 < total_groups // 3  # nowhere near O(all groups)
    # (b) 10x the rows, IDENTICAL state: state tracks groups, not rows
    assert state10 == state1, (state1, state10)
    # (c) both runs emitted the same (volume-independent) window set
    assert emitted10 == emitted1 > 0


def _write_funnel_files(spark, base: str, rows_per_hour: int) -> int:
    """view/purchase event files for the stream-stream semi join, same
    10-file time-ordered layout as _write_stream_files."""
    total = 0
    hours_per_file = N_HOURS // N_FILES
    for i in range(N_FILES):
        h0 = i * hours_per_file
        df = (
            spark.range(hours_per_file * rows_per_hour)
            .select(
                (F.lit(h0) + (F.col("id") % hours_per_file)).alias("_h"),
                F.col("id").alias("event_id"),
                (F.col("id") % 20).alias("user_id"),
                F.when((F.col("id") % 2) == 0, "view").otherwise("purchase").alias("event_type"),
            )
            .select(
                F.timestamp_seconds(
                    F.col("_h") * 3600 + (F.col("event_id") % 50) * 60
                ).alias("ts"),
                "event_id",
                "user_id",
                "event_type",
            )
        )
        path = os.path.join(base, f"part{i:02d}")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                dst = os.path.join(base, f"f{i:02d}.parquet")
                os.replace(os.path.join(path, f), dst)
                ts = time.time() - (N_FILES - i) * 10
                os.utime(dst, (ts, ts))
        total += hours_per_file * rows_per_hour
    return total


def _funnel_state_rows(spark, base: str) -> int:
    from usda_food_data_pipeline_spark.streaming.joins import streaming_funnel

    schema = spark.read.parquet(os.path.join(base, "f00.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "f*.parquet"))
    )
    out = streaming_funnel(stream, max_lag="30 minutes", watermark="1 hour")
    name = f"funnel_state_{abs(hash(base)) % 10**8}"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        state_rows = sum(op["numRowsTotal"] for op in q.lastProgress["stateOperators"])
    finally:
        q.stop()
    return state_rows


@pytest.mark.slow
def test_stream_stream_join_state_is_horizon_bounded(spark, tmp_path):
    """Stream-stream join state stores ROWS within the watermark + lag
    horizon (unlike the windowed agg's per-group state), so 10× volume
    legitimately costs 10× state — what must NOT happen is retention of
    the whole stream. Pin the evicted fraction: final state stays under
    ~2 batch-spans of rows while the stream holds 10 of them."""
    base1 = str(tmp_path / "f1")
    base10 = str(tmp_path / "f10")
    os.makedirs(base1), os.makedirs(base10)
    n1 = _write_funnel_files(spark, base1, rows_per_hour=40)
    n10 = _write_funnel_files(spark, base10, rows_per_hour=400)

    state1 = _funnel_state_rows(spark, base1)
    state10 = _funnel_state_rows(spark, base10)

    # horizon = one 10-hour batch span behind the watermark + 1h + lag;
    # both sides buffer, so allow 2 spans of BOTH-side rows — still a
    # 5x eviction vs the full stream, and the fraction must hold at 10x
    assert 0 < state1 <= 2 * (n1 // N_FILES) * 2, (state1, n1)
    assert state10 <= 2 * (n10 // N_FILES) * 2, (state10, n10)
    # eviction engaged on both runs: state is a minority of the stream
    assert state1 < n1 and state10 < n10 * 0.5
