"""Sinks (SURVEY §2.1 S5-S7).

- quoted CSV (reference ``to_csv(quoting=QUOTE_NONNUMERIC)``, :160)
- partitioned parquet (the engine's internal format)
- batched external-index sink with in-partition retry/backoff — the
  Spark-shaped replacement for the reference's driver-side
  ``iterrows`` + Pinecone upsert loop (utils/upload_data_to_pinecone.py:13-85).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import read_parquet, spread


def write_quoted_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference S5: quote all non-numeric fields. Spark's nearest is
    ``quoteAll`` after string-casting the id columns the reference casts
    (:158); numeric columns stay unquoted only in pandas — we document
    the divergence and quote everything (stable for round-trip)."""
    df.write.mode(mode).option("header", True).option("quoteAll", True).csv(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet — the scale path: partition pruning turns
    key-range queries into file skips."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def backfill_overwrite(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent backfill: overwrite ONLY the partitions present in
    ``df``, leaving every other partition untouched.

    The 100 TB recompute pattern: re-running yesterday's slice must not
    truncate the table (static overwrite mode drops ALL partitions
    first). Uses dynamic partition-overwrite — each task writes its
    partition directories and commit replaces exactly those — restored
    to the session's previous mode afterwards so other writers keep
    their semantics.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set(key, prev)


def upsert_batches(
    df: DataFrame,
    upsert: Callable[[list[dict]], None],
    batch_size: int = 90,
    max_retries: int = 15,
    base_backoff_s: float = 0.01,
) -> None:
    """Reference S7 re-shaped for Spark: instead of a driver-side row
    loop (utils/upload_data_to_pinecone.py:13), each partition batches
    its own rows and retries with exponential backoff (:56-85 semantics:
    batch 90, retries, 2^n backoff). ``upsert`` runs on executors —
    it must be picklable and idempotent (at-least-once on task retry).
    """

    def handle_partition(rows: Iterator) -> None:
        batch: list[dict] = []

        def flush() -> None:
            if not batch:
                return
            for attempt in range(max_retries):
                try:
                    upsert(batch)
                    break
                except Exception:  # noqa: BLE001
                    if attempt == max_retries - 1:
                        raise
                    time.sleep(base_backoff_s * (2**attempt))
            batch.clear()

        for row in rows:
            # null metadata fields dropped, reference P8 (:16)
            batch.append({k: v for k, v in row.asDict().items() if v is not None})
            if len(batch) >= batch_size:
                flush()
        flush()

    df.foreachPartition(handle_partition)


def make_local_index_upsert(index_dir: str) -> Callable[[list[dict]], None]:
    """A self-contained local 'vector index' target: each upsert call
    appends a JSON-lines shard. Stands in for the external index so the
    sink pattern is testable offline."""

    def upsert(batch: list[dict]) -> None:
        os.makedirs(index_dir, exist_ok=True)
        shard = os.path.join(index_dir, f"shard-{os.getpid()}-{time.time_ns()}.jsonl")
        with open(shard, "w", encoding="utf-8") as f:
            for item in batch:
                f.write(json.dumps(item, default=str) + "\n")

    return upsert


def build_embedding_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    dim: int = 64,
) -> None:
    """Reference §3.2 made self-contained: embed + write a parquet
    'index' table instead of a network upsert, so correctness is
    checkable offline. The embedder is the deterministic featurizer
    (functions.embed.embed_vector, applied per row by embed_text_batch);
    swap in a model-backed pandas_udf in production.

    The index is written as at least one file per core: an input that
    :func:`.tables.spread` finds less parallel than
    ``defaultParallelism`` is spread first, so the embedding UDF runs
    on every core and each later top-k scan of the index scores in
    ``defaultParallelism`` tasks instead of one. An input that is
    already that parallel keeps its own layout."""
    from ..functions.embed import embed_text_batch

    (
        spread(df).select(
            F.col(id_col),
            embed_text_batch(dim)(F.col(text_col)).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(out_path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Materialize a table bucketed (and sorted) by the join key.

    Bucketing is the shuffle-amortization layout for repeatedly-joined
    facts at 100 TB: two tables bucketed by the same key into the same
    bucket count sort-merge-join with ZERO exchange on either side —
    the shuffle is paid once at write time, never per query
    (test_layout.test_bucketed_join_no_exchange pins the plan).
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-Lines sink — the interchange format training corpora ship
    in (one JSON object per line; gzip-splittable-per-file). Spark's
    json writer IS jsonl: one object per line, one file per partition,
    so writes scale with the upstream partitioning.
    """
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark, path: str, schema) -> DataFrame:
    """Schema-explicit JSONL read (SURVEY §1.3 discipline: never infer).

    Passing the schema skips Spark's inference pre-pass — at 100 TB
    that pass is a full extra scan of the corpus — and pins types
    (inference would e.g. widen an int column to bigint on one shard
    and conflict on merge). Malformed lines go to PERMISSIVE null rows
    rather than failing the scan; count them with a notNull filter on
    a required column.
    """
    return spark.read.schema(schema).json(path)


def zorder_key(cols: list, bounds: dict, bits: int = 16):
    """Z-order (Morton) interleave expression over 2+ numeric columns.

    Each column is min/max-scaled to a ``bits``-bit integer using the
    supplied ``bounds`` {col: (min, max)}, then the bits interleave
    round-robin (col0 gets bit 0, col1 bit 1, ...). Pure integer
    Catalyst expressions — no UDF — so the key computes inside the
    scan projection at write time.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("z-ordering needs >= 2 columns")
    scaled = []
    for c in cols:
        lo, hi = (float(x) for x in bounds[c])
        span = (hi - lo) or 1.0
        v = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float(2**bits - 1))
        scaled.append(F.least(F.lit(2**bits - 1), F.greatest(F.lit(0), v.cast("long"))))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * n + j)
    return key


def zorder_bounds(df: DataFrame, cols: list) -> dict:
    """One tiny min/max aggregate -> {col: (min, max)} for
    :func:`zorder_key` — shared by the write path and the
    oracle-checked ``zorder_key_map`` registry row so the two can
    never drift."""
    from pyspark.sql import functions as F

    row = df.agg(
        *[m(c).alias(f"{agg}_{c}") for c in cols for agg, m in (("min", F.min), ("max", F.max))]
    ).first()
    return {c: (row[f"min_{c}"], row[f"max_{c}"]) for c in cols}


def write_zorder(
    df: DataFrame, path: str, cols: list, n_files: int = 16, bits: int = 16
) -> None:
    """Z-order-clustered parquet write: range-partition + sort by the
    Morton key so every output file covers a tight hyper-rectangle of
    the ``cols`` space.

    Why at 100 TB: parquet footers carry per-row-group min/max for
    every column; after z-ordering, a predicate on ANY of the clustered
    columns prunes most files/row-groups (multi-dimensional
    data-skipping), where a single-column sort only helps its leading
    column. The bounds pass is one tiny min/max aggregate; the write
    is ONE range exchange + in-partition sort — the same cost as any
    globally sorted write.
    """
    from pyspark.sql import functions as F

    key = zorder_key(cols, zorder_bounds(df, cols), bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark, src_path: str, out_path: str, target_mb: int = 128
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_mb) files. Returns the file count.

    The operational fix for the many-small-files problem streaming and
    incremental sinks accumulate (every scan pays per-file open/footer
    overhead; HDFS/S3 listing cost scales with file count). Uses
    coalesce when shrinking — a partition-merge with NO exchange —
    and repartition (one round-robin exchange) only when the source
    has fewer partitions than the target.
    """
    import glob
    import os

    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(src_path, "**", "*.parquet"), recursive=True)
    )
    n = max(1, -(-total // (target_mb * 1024 * 1024)))
    df = read_parquet(spark, src_path)
    cur = df.rdd.getNumPartitions()
    df = df.coalesce(n) if cur >= n else df.repartition(n)
    df.write.mode("overwrite").parquet(out_path)
    return n


def read_parquet_evolved(spark, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet files whose schemas drifted
    (added columns) into the merged superset schema, missing columns
    null-filled — the append-only table whose producer gained fields.

    ``mergeSchema`` reads every file footer (cheap: footers only, no
    data pages) instead of trusting the first file, so a column that
    exists only in newer files isn't silently dropped. At 100 TB pin
    the merged schema in a catalog once rather than re-merging per
    scan.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def shuffled_export(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    order_col: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Deterministic global shuffle + sharded export — the last step of
    a training-data pipeline: break source/topic ordering so sequential
    shard readers see an i.i.d.-like stream, with a layout that is
    REPRODUCIBLE (same seed → byte-identical shard membership and
    in-shard order) and stable under input partitioning.

    The shuffle key is a content-derived hash ``xxhash64(order_col,
    seed)`` — NOT ``F.rand`` (partition-order-dependent, SURVEY §4
    custom rule) — and the shard id is ``pmod(key_hash, n_shards)``:
    a pure function of row content, so shard MEMBERSHIP is exact and
    independent of input partitioning. (``repartitionByRange`` on the
    raw hash would NOT be: its range bounds come from reservoir
    sampling, which shifts with the input layout — measured: a
    ``repartition(17)`` copy of the same data produced different
    shards.) Rows land in ``_shard=NN/`` directories via the dynamic
    partition writer; a shard's rows all hash to one task, so each
    directory holds one key-sorted file (or several, each ≤
    ``max_records_per_file``, contiguous in filename order).

    At 100 TB this is one full-data hash exchange — the unavoidable
    cost of a global shuffle — and nothing else; no driver-side
    materialization at any size.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import functions as F

    key_src = F.col(order_col) if order_col else F.concat_ws("\x1f", *df.columns)
    keyed = df.withColumn("_shuffle_key", F.xxhash64(key_src, F.lit(seed))).withColumn(
        "_shard", F.pmod(F.col("_shuffle_key"), F.lit(n_shards)).cast("int")
    )
    writer = (
        keyed.repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", "_shuffle_key")
        .drop("_shuffle_key")
        .write.mode("overwrite")
        .partitionBy("_shard")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)
