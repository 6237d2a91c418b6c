"""Streaming-mode tests: the same window functions and the funnel join
that pass the batch oracle must run as Structured Streaming queries."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.sources.tables import load_events
from usda_food_data_pipeline_spark.streaming.windows import (
    session_window_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Stage events as a micro-batch-friendly parquet dir with proper
    microsecond timestamps (readStream can't take the raw NANOS file)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_events(spark, sf_dir).drop("ts_ns").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def test_tumbling_window_streaming_matches_batch(spark, sf_dir, events_dir):
    stream = _stream(spark, events_dir)
    q = (
        tumbling_window_agg(stream, "1 hour", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT window_start, event_type, n_events, sum_value FROM tumbling_out"
        ).collect()
    finally:
        q.stop()
    batch = tumbling_window_agg(load_events(spark, sf_dir), "1 hour").collect()
    # append-mode only emits windows older than the watermark; every
    # emitted row must match its batch twin
    batch_map = {(r["window_start"], r["event_type"]): r for r in batch}
    assert len(got) > 0
    for r in got:
        b = batch_map[(r["window_start"], r["event_type"])]
        assert (r["n_events"], r["sum_value"]) == (b["n_events"], b["sum_value"])


def test_session_window_streaming_runs(spark, events_dir):
    stream = _stream(spark, events_dir)
    q = (
        session_window_agg(stream, "30 minutes", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("session_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) c FROM session_out").collect()[0]["c"]
    finally:
        q.stop()
    assert n > 0


def test_foreachbatch_sink(spark, events_dir, tmp_path):
    """foreachBatch: the exactly-once-style sink pattern — each
    micro-batch lands as one idempotent parquet write keyed by epoch."""
    out = str(tmp_path / "batches")
    stream = _stream(spark, events_dir)

    def sink(df, epoch_id):
        df.groupBy("event_type").count().write.mode("overwrite").parquet(
            f"{out}/epoch={epoch_id}"
        )

    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(f"{out}/epoch=0")
    total = sum(r["count"] for r in back.collect())
    assert total == spark.read.parquet(events_dir).count()


def test_stream_stream_join(spark, events_dir):
    """Purchases joined to prior same-user events within 30 minutes —
    results must match the equivalent batch join."""
    from usda_food_data_pipeline_spark.streaming.joins import stream_stream_join
    from pyspark.sql import functions as FF

    purchases = _stream(spark, events_dir).filter(FF.col("event_type") == "purchase")
    views = _stream(spark, events_dir).filter(FF.col("event_type") == "view")
    joined = stream_stream_join(purchases, views, "user_id", "ts", "4 hours", "30 minutes")
    out = joined.select(
        FF.col("l.event_id").alias("purchase_id"), FF.col("r.event_id").alias("view_id")
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try:
        q.processAllAvailable()
        got = {(r["purchase_id"], r["view_id"]) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    finally:
        q.stop()
    ev = spark.read.parquet(events_dir)
    p = ev.filter(FF.col("event_type") == "purchase").alias("l")
    v = ev.filter(FF.col("event_type") == "view").alias("r")
    batch = (
        p.join(
            v,
            (FF.col("l.user_id") == FF.col("r.user_id"))
            & (FF.col("r.ts") <= FF.col("l.ts"))
            & (FF.col("r.ts") >= FF.col("l.ts") - FF.expr("INTERVAL 30 minutes")),
        )
        .select(FF.col("l.event_id").alias("p"), FF.col("r.event_id").alias("v"))
        .collect()
    )
    want = {(r["p"], r["v"]) for r in batch}
    assert got == want and len(want) > 0


def test_streaming_funnel_matches_batch(spark, sf_dir, events_dir):
    """The true streaming funnel: time-bounded stream-stream semi join.
    Every purchase the stream emits as converted must be converted in
    the batch twin, and all but the watermark-tail purchases must be
    emitted."""
    from usda_food_data_pipeline_spark.streaming.joins import streaming_funnel

    stream = _stream(spark, events_dir)
    q = (
        streaming_funnel(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["event_id"] for r in spark.sql("SELECT event_id FROM funnel_out").collect()}
    finally:
        q.stop()

    batch_events = spark.read.parquet(events_dir)
    batch = streaming_funnel(batch_events, watermark=None)
    want = {r["event_id"] for r in batch.collect()}
    assert got, "streaming funnel emitted nothing"
    assert got <= want  # no false conversions
    # completeness: everything older than the final watermark must emit
    import datetime

    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1, minutes=30)
    old_want = {
        r["event_id"]
        for r in batch.filter(F.col("ts") < F.lit(horizon)).collect()
    }
    missing = old_want - got
    assert not missing, f"{len(missing)} pre-watermark conversions not emitted"
