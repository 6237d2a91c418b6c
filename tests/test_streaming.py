"""Streaming-mode tests: the same window functions that pass the batch
oracle must run as Structured Streaming queries, and the stateful
operator must accumulate across micro-batches."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.sources.tables import load_events
from usda_food_data_pipeline_spark.streaming.stateful import running_totals
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


def test_stateful_running_totals(spark, events_dir):
    stream = _stream(spark, events_dir)
    q = (
        running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            # last update per key = the final running total
            """SELECT event_type, total_events FROM (
                   SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY total_events DESC) rn FROM totals_out)
               WHERE rn = 1"""
        ).collect()
    finally:
        q.stop()
    got = {r["event_type"]: r["total_events"] for r in rows}
    expected = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(events_dir).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert got == expected


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


def test_streaming_exact_dedup(spark, events_dir):
    """dropDuplicatesWithinWatermark keyed on content hash: emitted rows
    are unique per hash, and every distinct hash appears."""
    from usda_food_data_pipeline_spark.streaming.dedup import streaming_exact_dedup

    stream = _stream(spark, events_dir)
    q = (
        streaming_exact_dedup(stream, "props", "ts", "2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT content_hash FROM dedup_out").collect()
    finally:
        q.stop()
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes))  # no duplicate emissions
    n_distinct = (
        spark.read.parquet(events_dir).selectExpr("md5(props) h").distinct().count()
    )
    assert len(set(hashes)) == n_distinct


def test_stream_stream_join(spark, events_dir):
    """Purchases joined to prior same-user events within 30 minutes —
    results must match the equivalent batch join."""
    from usda_food_data_pipeline_spark.streaming.dedup import stream_stream_join
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
    from usda_food_data_pipeline_spark.streaming.dedup import streaming_funnel

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


def test_stream_static_enrich_matches_batch_and_is_stateless(spark, sf_dir, events_dir):
    """Events enriched with the customer dim on the stream must equal
    the batch join, and the running plan must carry no streaming state
    (stream-static joins are stateless by construction)."""
    from usda_food_data_pipeline_spark.sources.tables import load_table
    from usda_food_data_pipeline_spark.streaming.dedup import stream_static_enrich

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = _stream(spark, events_dir)
    q = (
        stream_static_enrich(stream, dim, "user_id", ["c_mktsegment"])
        .groupBy("c_mktsegment")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("enrich_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["c_mktsegment"]: r["count"]
            for r in spark.sql("SELECT * FROM enrich_out").collect()
        }
        progress = q.lastProgress
    finally:
        q.stop()
    batch = {
        r["c_mktsegment"]: r["count"]
        for r in spark.read.parquet(events_dir)
        .join(dim, "user_id")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    }
    assert got == batch and got
    # the only stateful operator is the aggregation itself — the join
    # contributes no state rows beyond it
    ops = progress["stateOperators"] if progress else []
    assert all("join" not in (op.get("operatorName") or "") for op in ops)


@pytest.mark.slow
def test_streaming_incremental_dedup_across_batches(spark, tmp_path):
    """foreachBatch incremental dedup: batch 2 must be deduped against
    batch 1's ACCEPTED survivors (exact dup dropped, near-dup dropped,
    novel doc kept), and a replayed epoch must not double-append."""
    import os

    from usda_food_data_pipeline_spark.streaming.dedup import (
        streaming_incremental_dedup,
    )

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    batch1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "completely different content about spark shuffles here"),
        ],
        "doc_id bigint, text string",
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    q = streaming_incremental_dedup(
        spark.readStream.schema("doc_id bigint, text string").parquet(src),
        corpus, ckpt, jaccard_threshold=0.5,
    )
    q.awaitTermination(120)
    got1 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got1 == {1, 2}  # seed batch accepted wholesale

    batch2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today ok"),  # exact dup of 1
            (11, "the quick brown fox jumps over the lazy dog today yes"),  # near dup of 1
            (12, "entirely novel text with new words and no overlap at all"),
        ],
        "doc_id bigint, text string",
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    q = streaming_incremental_dedup(
        spark.readStream.schema("doc_id bigint, text string").parquet(src),
        corpus, ckpt, jaccard_threshold=0.5,
    )
    q.awaitTermination(180)
    got2 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got2 == {1, 2, 12}  # dup + near-dup rejected, novel kept
    # corpus rows appear exactly once (no replay double-append)
    assert spark.read.parquet(corpus).count() == 3


def test_incremental_dedup_crash_replay_is_exactly_once(spark, tmp_path):
    """r05 verdict task 3 / ADVICE: the epoch commit must be atomic.
    Drive the foreachBatch processor directly through the crash
    windows: (a) crash AFTER staging write but BEFORE publish — the
    replay must discard the partial staging dir, dedup against the
    pre-epoch corpus only, and publish once; (b) crash AFTER publish
    but before the checkpoint advances — the replay must be a no-op."""
    import os

    from usda_food_data_pipeline_spark.streaming.dedup import (
        make_incremental_dedup_batch_processor,
    )

    corpus = str(tmp_path / "corpus")
    proc = make_incremental_dedup_batch_processor(corpus, jaccard_threshold=0.5)

    batch1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "completely different content about spark shuffles here"),
        ],
        "doc_id bigint, text string",
    )
    proc(batch1, 0)
    assert os.path.isdir(f"{corpus}/epoch=0")

    batch2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today ok"),  # exact dup
            (11, "entirely novel text with new words and no overlap at all"),
            (12, "entirely novel text with new words and no overlap at ALL"),  # near-dup of 11 WITHIN the batch
        ],
        "doc_id bigint, text string",
    )
    # simulate crash window (a): a partial staging dir exists (as if a
    # prior attempt wrote some task files then died before the rename)
    os.makedirs(f"{corpus}/_staging-epoch-1")
    with open(f"{corpus}/_staging-epoch-1/part-00000.parquet", "w") as f:
        f.write("partial garbage from a dead attempt")
    # the half-written staging data must be invisible to corpus readers
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 2}

    proc(batch2, 1)
    got = {r.doc_id for r in spark.read.parquet(corpus).drop("epoch").collect()}
    assert 10 not in got  # exact dup rejected
    assert 11 in got or 12 in got  # novel content kept
    n_after_commit = spark.read.parquet(corpus).count()
    assert not os.path.exists(f"{corpus}/_staging-epoch-1")  # staging cleaned

    # crash window (b): epoch published, checkpoint not advanced →
    # replayed epoch must change nothing (no duplicate survivors, even
    # though the corpus now contains this batch's own survivors, which
    # would near-dup-match the batch against itself on a naive re-run)
    proc(batch2, 1)
    assert spark.read.parquet(corpus).count() == n_after_commit
    got2 = {r.doc_id for r in spark.read.parquet(corpus).drop("epoch").collect()}
    assert got2 == got


def test_incremental_dedup_epochs_leave_no_cache(spark, tmp_path):
    """Each seeded epoch dedups against corpus-sized signature caches;
    the processor must free them once the epoch's survivors are
    written, or a long-running stream's storage grows every epoch."""
    from usda_food_data_pipeline_spark.streaming.dedup import (
        make_incremental_dedup_batch_processor,
    )

    spark.catalog.clearCache()
    proc = make_incremental_dedup_batch_processor(
        str(tmp_path / "corpus"), jaccard_threshold=0.5
    )
    batches = [
        [(1, "the quick brown fox jumps over the lazy dog today ok"),
         (2, "completely different content about spark shuffles here")],
        [(10, "the quick brown fox jumps over the lazy dog today yes"),
         (11, "entirely novel text with new words and no overlap at all")],
        [(20, "entirely novel text with new words and no overlap at ALL"),
         (21, "a third epoch brings yet another unrelated document in")],
    ]
    for epoch, rows in enumerate(batches):
        proc(spark.createDataFrame(rows, "doc_id bigint, text string"), epoch)
    assert spark.read.parquet(str(tmp_path / "corpus")).count() >= 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
