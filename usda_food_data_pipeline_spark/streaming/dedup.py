"""Streaming deduplication and stream-stream joins (engine extension).

The batch dedup suite (operators/dedup.py) has streaming twins:

- exact dedup on a stream: ``dropDuplicatesWithinWatermark`` keyed on
  the content hash — state for a hash is dropped once the watermark
  passes it, so memory is bounded by the dedup horizon, not the stream
  length. (Plain ``dropDuplicates`` on a stream accumulates state
  forever — never ship that.)
- stream-stream join: both sides watermarked + an event-time range
  predicate so the join state is evictable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(
    stream: DataFrame,
    content_col: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First occurrence per content hash within the watermark horizon."""
    return (
        stream.withColumn("content_hash", F.md5(F.col(content_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


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


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    dim_cols: list[str] | None = None,
) -> DataFrame:
    """Stream-static enrichment: join a stream to a batch dimension
    table — the lookup-join every event pipeline runs (user profile,
    product catalog) before windowing/aggregation.

    Stream-static inner joins are STATELESS in Structured Streaming
    (no watermark, no join state: each micro-batch joins against the
    static relation as of that batch), and the static side broadcasts
    when it fits — so enrichment adds zero state store pressure and no
    shuffle of the stream. The dimension is re-resolved per batch: a
    dim table refreshed in place (overwrite of the same path) is
    picked up on the next micro-batch without restarting the query.
    """
    d = dim if dim_cols is None else dim.select(key_col, *dim_cols)
    return stream.join(F.broadcast(d), key_col, "inner")


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for ``path_str`` via the JVM Hadoop API — the
    same abstraction Spark's own sinks use, so existence checks and
    renames work on local FS and HDFS alike (not just driver-local
    POSIX, the r05 implementation's limitation)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def make_incremental_dedup_batch_processor(
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
):
    """Build the ``foreachBatch`` processor for
    :func:`streaming_incremental_dedup` (module-level so crash/replay
    paths are testable without driving a StreamingQuery).

    Commit protocol (atomic publish, exactly-once per epoch):

    - the corpus is an epoch-partitioned parquet table
      ``{corpus_dir}/epoch=N/part-*.parquet``; the PRESENCE of an
      epoch directory is the commit marker — there is no separate
      marker file to race with the data write;
    - survivors are written to ``{corpus_dir}/_staging-epoch-N``
      (underscore-prefixed → invisible to Spark/Hadoop readers), then
      published with a single filesystem rename to ``epoch=N``.
      Rename is atomic on POSIX and HDFS; on S3-like stores wrap the
      corpus in a table format with a manifest commit instead;
    - a crash before the rename leaves only hidden staging files; the
      replayed epoch deletes the leftover staging dir and re-runs the
      dedup against the same pre-epoch corpus (epoch dirs are the only
      thing readers see, so partial task files are never committed and
      near-dup checks never run against a half-appended batch);
    - a crash after the rename but before the streaming checkpoint
      advances makes the replayed epoch a no-op (``epoch=N`` exists).
    """
    from ..operators.dedup import incremental_dedup
    from ..session import QueryRun
    from ..sources.tables import read_parquet

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, corpus_path = _hadoop_fs(spark, corpus_dir)
        epoch_path = spark._jvm.org.apache.hadoop.fs.Path(
            corpus_path, f"epoch={epoch_id}"
        )
        if fs.exists(epoch_path):  # replayed epoch, already committed
            return
        staging = spark._jvm.org.apache.hadoop.fs.Path(
            corpus_path, f"_staging-epoch-{epoch_id}"
        )
        if fs.exists(staging):  # leftover from a crashed attempt
            fs.delete(staging, True)
        if batch_df.isEmpty():
            return
        seeded = fs.exists(corpus_path) and fs.globStatus(
            spark._jvm.org.apache.hadoop.fs.Path(corpus_path, "epoch=*")
        )
        # the run frees the epoch's corpus-sized signature caches once
        # the survivors are written
        with QueryRun():
            if seeded:
                # partition discovery adds the epoch column; drop it
                # before handing the corpus to the dedup operator
                existing = read_parquet(spark, corpus_dir).drop("epoch")
                survivors = incremental_dedup(
                    existing, batch_df, id_col, text_col,
                    jaccard_threshold=jaccard_threshold,
                )
            else:
                # first batch: only internal exact dedup vs itself is the
                # batch operators' job; accept all rows as the seed corpus
                survivors = batch_df
            survivors.write.mode("overwrite").parquet(str(staging))
        fs.mkdirs(corpus_path)
        if not fs.rename(staging, epoch_path):
            raise RuntimeError(
                f"atomic publish of epoch {epoch_id} failed: "
                f"rename({staging}, {epoch_path})"
            )

    return process_batch


def streaming_incremental_dedup(
    incoming_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    trigger_once: bool = True,
):
    """Continuous corpus ingestion with dedup against everything already
    accepted — the operational mode of ``operators.dedup.
    incremental_dedup`` at 100 TB: signatures of the accumulated corpus
    live as a parquet table and each micro-batch runs the cross-corpus
    plan against them, then appends its survivors.

    ``foreachBatch`` (not a stateful operator) is the right Spark shape
    here: the dedup state is CORPUS-sized — far beyond streaming state
    store budgets — and already exists as a queryable table; per batch
    we run the full batch operator (exact hash anti-join + cross-corpus
    MinHash-LSH, both sides guard-capped) and publish survivors as one
    atomically-renamed epoch partition the next batch reads. Batch N+1
    therefore dedups against batch N's survivors with read-committed
    semantics; exactly-once comes from the epoch-directory commit
    protocol (see :func:`make_incremental_dedup_batch_processor`).

    Returns the ``StreamingQuery``.
    """
    import os

    process_batch = make_incremental_dedup_batch_processor(
        corpus_dir, id_col, text_col, jaccard_threshold
    )
    writer = (
        incoming_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "spark"))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
