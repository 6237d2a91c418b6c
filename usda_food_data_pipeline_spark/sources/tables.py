"""Scans over the driver's star-schema parquet tables (TESTDATA.md).

Reference analog: the 4 eager full-file CSV scans at
``usda_branded_food_data_pipeline.py:141-144``. Here scans are lazy,
columnar, and schema-on-read; Catalyst prunes columns and pushes
predicates into the parquet reader, which is the behavior the reference
lacked (SURVEY §4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events scan across driver testdata generations: the
    ``ts`` column has shipped both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader only accepts as long via the legacy conf) and as a
    plain microsecond timestamp. Expose ``ts`` as a TimestampType
    microsecond instant (session TZ is pinned UTC, so the NTZ→TZ cast is
    identity on the wire) plus ``ts_ns`` as raw epoch nanos."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # integer DIV, not double division: ns values ~1.7e18 exceed
        # double's 2^53 exact-integer range
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
        ts_ns = F.col("ts")
    else:
        ts = F.col("ts").cast("timestamp")
        ts_ns = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
            "long"
        )
    return raw.select(
        "event_id",
        ts.alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# spread()'s metadata probe, cached per (path, mtime_ns, size): the
# fixture tables are re-scanned by every query in a session, and the
# row-group count of an immutable file never changes.  This is file
# METADATA (one footer read), not query results — nothing here caches
# computation across runs.
_ROW_GROUPS_CACHE: dict[tuple[str, int, int], int] = {}

# narrow-only analyzed-plan heads: a plan made of these over one scan
# preserves the scan's partitioning, so the scan's row-group count IS
# the DataFrame's effective parallelism.  Anything else (Aggregate,
# Join, Window, Repartition, Union, ...) falls back to the exact RDD
# probe below.
_NARROW_HEADS = (
    "Project", "Filter", "Generate", "SubqueryAlias", "Relation", "View",
)


def _scan_row_groups(df: DataFrame) -> int | None:
    """Effective scan-task parallelism of a narrow plan over ONE parquet
    relation, from driver-side file metadata — or None when the plan
    shape/store makes the cheap probe unsound (caller falls back to the
    RDD partition count).

    Spark byte-splits parquet files, but a row group is read entirely by
    the one task whose split covers its midpoint — a single-row-group
    file is ONE non-empty task no matter how many splits (or how large
    ``maxPartitionBytes``), which is exactly the regime spread() exists
    for (its docstring).  Total row groups therefore bounds the scan's
    useful parallelism.
    """
    from urllib.parse import urlparse

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    for line in plan.splitlines():
        head = line.lstrip(" :+-")
        if head and not head.startswith(_NARROW_HEADS):
            return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import os as _os

    total = 0
    for f in files:
        local = urlparse(f).path or f
        try:
            st = _os.stat(local)
        except OSError:
            return None  # non-local store: no cheap footer read
        key = (local, int(st.st_mtime_ns), st.st_size)
        n = _ROW_GROUPS_CACHE.get(key)
        if n is None:
            try:
                import pyarrow.parquet as pq

                n = int(pq.ParquetFile(local).metadata.num_row_groups)
            except Exception:
                return None  # not parquet / unreadable footer
            _ROW_GROUPS_CACHE[key] = n
        total += n
    return total


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the input has fewer
    partitions (single-row-group parquet files scan as ONE task, which
    serializes CPU-heavy downstream operators). No-op when the scan is
    already parallel — multi-row-group production files stay untouched.

    The partition probe reads parquet footers (cached) instead of
    forcing the plan→RDD conversion ``df.rdd.getNumPartitions()`` pays
    (~10-100 ms of analysis+planning per call × ~50 call sites — r11
    verdict task 5); non-scan inputs (literal DataFrames in tests,
    post-shuffle plans) keep the exact RDD probe."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _scan_row_groups(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Explicit schema-on-read for the four staged USDA CSVs (SURVEY §1.3).
# Reference dtype override: utils/upload_data_to_pinecone.py:8 — the
# reference re-reads with dtype=str; here every production read carries an
# explicit type per known column (serving_size stays STRING: dirty values
# are coerced later by safe_cast_round, like pandas to_numeric(coerce)).
# Real USDA exports carry extra columns; the schema is built by NAME
# against the file's header (read on the driver), unknown columns default
# to STRING, so column order/width changes never silently shift types.
# ---------------------------------------------------------------------------

USDA_CSV_TYPES: dict[str, dict[str, str]] = {
    "branded_food": {
        "fdc_id": "bigint",
        "gtin_upc": "string",
        "ingredients": "string",
        "serving_size": "string",
        "serving_size_unit": "string",
    },
    "food": {"fdc_id": "bigint", "description": "string"},
    "nutrient": {"id": "bigint", "name": "string", "unit_name": "string"},
    "food_nutrient": {"fdc_id": "bigint", "nutrient_id": "bigint", "amount": "double"},
}


# A CSV line whose every field is either plain (no quote, no backslash)
# or wholly quoted, escaping only ``"`` and ``\`` with ``\`` and closed
# right before a comma or the line's end. Python's ``csv`` splits such a
# line exactly as Spark's CSV parser does; on other lines they can differ
# (Spark keeps ``"ab"c`` as written, ``csv`` reads ``abc``).
_CSV_FIELD = r'(?:[^",\\]*|"(?:[^"\\]|\\["\\])*")'
_SIMPLE_CSV_LINE = re.compile(rf"{_CSV_FIELD}(?:,{_CSV_FIELD})*")


def _csv_header(spark: SparkSession, conf, file) -> tuple[str, ...]:
    """One staged CSV's column names as Spark's CSV source infers them
    with ``header=true``, read on the driver: no Spark job.

    The first non-blank line of the Hadoop path ``file`` comes through
    the ``FileSystem`` and ``LineReader`` the source's line reader uses
    (``\\n``, ``\\r`` and ``\\r\\n`` endings), behind the file's
    compression codec when it has one; a leading UTF-8 BOM is dropped,
    as Hadoop drops it. A line of plain and wholly quoted fields
    (:data:`_SIMPLE_CSV_LINE`) is split with Python's ``csv`` under
    Spark's CSV defaults (quote ``"``, escape ``\\``), then named by
    Spark's safe-header rule: an empty name becomes ``_c<i>`` and names
    that repeat (case-insensitively unless ``spark.sql.caseSensitive``)
    get their index appended. Any other line (text after a closing
    quote, a backslash outside quotes, ...) is named by Spark's own CSV
    reader over the line as a one-row local relation: no job either,
    but ~0.1 s a file to plan against ~0.04 s for this whole function
    on the ``csv`` path (traced ``usda_etl``, 4 cores).
    """
    import csv
    from collections import Counter

    jvm = spark._jvm
    stream = file.getFileSystem(conf).open(file)
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(file)
        if codec is not None:  # closing it returns its pooled decompressor
            stream = codec.createInputStream(stream)
        reader = jvm.org.apache.hadoop.util.LineReader(stream)
        text = jvm.org.apache.hadoop.io.Text()
        reader.readLine(text)
        line = text.toString().removeprefix("\ufeff")
        # lines of spaces only are skipped, as SQL trim() sees them
        while not line.strip(" ") and reader.readLine(text) > 0:
            line = text.toString()
    finally:
        stream.close()
    if not line.strip(" "):
        return ()
    if not _SIMPLE_CSV_LINE.fullmatch(line):
        one_line = spark._jsparkSession.createDataset(
            jvm.java.util.Collections.singletonList(line),
            jvm.org.apache.spark.sql.Encoders.STRING(),
        )
        csv_reader = spark._jsparkSession.read().option("header", "true")
        return tuple(csv_reader.csv(one_line).columns())
    names = next(csv.reader([line], escapechar="\\", doublequote=False))
    fold = str if spark.conf.get("spark.sql.caseSensitive") == "true" else str.lower
    counts = Counter(fold(n) for n in names if n)
    return tuple(
        f"_c{i}" if not n else f"{n}{i}" if counts[fold(n)] > 1 else n
        for i, n in enumerate(names)
    )


def read_usda_csv(spark: SparkSession, path: str, table: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import types as T

    dtypes = {"bigint": T.LongType(), "double": T.DoubleType(), "string": T.StringType()}
    types = USDA_CSV_TYPES[table]

    def schema_for(cols: tuple[str, ...]) -> T.StructType:
        return T.StructType(
            [T.StructField(c, dtypes[types.get(c, "string")], True) for c in cols]
        )

    # the text source lists the files without inferring anything (no
    # job) and raises the CSV source's PATH_NOT_FOUND for a bad path
    files = sorted(set(spark.read.text(path).inputFiles()))
    if not files:  # an empty directory: let the CSV source say so
        return spark.read.option("header", True).csv(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    # inputFiles() are URI strings (a space reads "%20"); the Hadoop path
    # of the URI prints as the unescaped file path
    paths = [spark._jvm.org.apache.hadoop.fs.Path(spark._jvm.java.net.URI(f)) for f in files]
    headers = {str(p): _csv_header(spark, conf, p) for p in paths}
    if len(set(headers.values())) == 1:
        schema = schema_for(headers[str(paths[0])])
        return spark.read.option("header", True).schema(schema).csv(path)
    # With an explicit schema + header=True, Spark binds CSV columns
    # POSITIONALLY per file (the header row is merely skipped) — a glob
    # whose files disagree on column order would silently transpose
    # values. Files whose headers differ are read one by one and
    # unioned by name.
    parts = [
        spark.read.option("header", True).schema(schema_for(h)).csv(f)
        for f, h in headers.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
