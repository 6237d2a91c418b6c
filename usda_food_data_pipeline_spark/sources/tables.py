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


def _listed_files(spark: SparkSession, *paths: str) -> list:
    """The files Spark's file index lists under ``paths`` (globs
    expanded; names starting ``_`` or ``.`` skipped, parquet's summary
    files kept), as Hadoop paths sorted by their string. The text source
    lists them without inferring anything (no job) and raises the file
    sources' own ``PATH_NOT_FOUND`` for a path that matches nothing."""
    uri, path = spark._jvm.java.net.URI, spark._jvm.org.apache.hadoop.fs.Path
    # inputFiles() are URI strings (a space reads "%20"); the Hadoop path
    # of the URI prints as the unescaped file path
    files = set(spark.read.text(list(paths)).inputFiles())
    return sorted((path(uri(f)) for f in files), key=str)


# parquet summary files, in the order Spark's schema inference prefers them
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` opened with the schema Spark would
    infer, read on the driver: no Spark job (Spark's inference runs one
    to read a footer).

    Mirrors ``ParquetUtils.inferSchema`` with ``mergeSchema`` off: the
    footer of ``_common_metadata``, else ``_metadata``, else the first
    data file by path string, converted by
    ``ParquetFileFormat.readSchemaFromFooter`` (a schema Spark wrote
    into the footer wins) with the session's parquet confs as Spark's
    inference sets them. Partition discovery still appends ``key=value``
    columns. With no files, or with ``spark.sql.parquet.mergeSchema``
    on, Spark reads (and merges, or raises) itself. These are internal
    API of the pinned Spark 4.1.2; ``tests/test_fixed_cost.py::
    test_read_parquet_schema_matches_spark`` pins them against
    ``spark.read.parquet``.
    """
    import json

    from pyspark.sql import types as T

    files = _listed_files(spark, *paths)
    state = spark._jsparkSession.sessionState()
    sql_conf = state.conf()
    if not files or sql_conf.isParquetSchemaMergingEnabled():
        return spark.read.parquet(*paths)
    names = [p.getName() for p in files]
    picks = [files[names.index(n)] for n in _SUMMARY_FILES if n in names]
    file = (picks + [p for p, n in zip(files, names) if n not in _SUMMARY_FILES])[0]
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            file, state.newHadoopConf()
        ),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    # the arguments ParquetFileFormat.mergeSchemasInParallel passes: five
    # session confs, and the defaults (all off) of caseSensitive,
    # fieldId.read.enabled and ignoreVariantAnnotation
    converter = parquet.ParquetToSparkSchemaConverter(
        sql_conf.isParquetBinaryAsString(),
        sql_conf.isParquetINT96AsTimestamp(),
        False,
        sql_conf.parquetInferTimestampNTZEnabled(),
        sql_conf.legacyParquetNanosAsLong(),
        False,
        False,
        sql_conf.parquetReaderRespectUnknownTypeAnnotation(),
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(file, footer), converter
    )
    return spark.read.schema(T.StructType.fromJson(json.loads(schema.json()))).parquet(
        *paths
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events scan across driver testdata generations: the
    ``ts`` column has shipped both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader only accepts as long via the legacy conf) and as a
    plain microsecond timestamp. Expose ``ts`` as a TimestampType
    microsecond instant (session TZ is pinned UTC, so the NTZ→TZ cast is
    identity on the wire) plus ``ts_ns`` as raw epoch nanos."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = read_parquet(spark, f"{sf_dir}/events.parquet")
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


def spread(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when its planned scan
    has fewer splits, so a CPU-heavy operator over a small input does not
    run on one task. The decision reads the physical plan and runs no
    Spark job:

    - a plan with an exchange is kept: the shuffle set its parallelism.
      Under AQE such a plan is an ``AdaptiveSparkPlanExec``, whose RDD
      cannot be built without running its stages. A plan with a
      subquery is kept for the same reason.
    - otherwise the planned scan's split count (Spark packs splits from
      file sizes, ``openCostInBytes`` and ``maxPartitionBytes``) is
      compared with ``defaultParallelism``.

    Known limit: a parquet row group is read by the one split that holds
    its midpoint, so a row group larger than a split plans several
    splits of which only one holds rows. A 10.8 MB one-row-group file
    plans 3 splits on 4 cores and is spread (3 < 4); by Spark's split
    formula it plans 2 on 2 cores and is kept, on one busy task.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    if (
        plan.nodeName() == "AdaptiveSparkPlan"
        or plan.containsPattern(patterns.EXCHANGE())
        or plan.containsPattern(patterns.PLAN_EXPRESSION())
    ):
        return df
    if qe.toRdd().getNumPartitions() < target:
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


# bytes per read while looking for a staged CSV's header line
_HEADER_CHUNK = 1 << 16


def _csv_header(jvm, opts, conf, case_sensitive: bool, file) -> tuple[str, ...]:
    """One staged CSV's column names as Spark's CSV source infers them
    with ``header=true``, read on the driver: no Spark job.

    The header is the line :func:`_first_line` picks; the parser
    ``opts`` configures splits it, and ``CSVUtils.makeSafeHeader``
    names the fields (``_c<i>`` for an empty name, the index appended to
    names that repeat). These are internal Spark API;
    ``tests/test_api_cli.py::test_read_usda_csv_header_matches_spark``
    pins them against ``spark.read.csv``.
    """
    line = _first_line(jvm, conf, file)
    if line is None:
        return ()
    row = jvm.com.univocity.parsers.csv.CsvParser(opts.asParserSettings()).parseLine(line)
    csv_utils = jvm.org.apache.spark.sql.execution.datasources.csv.CSVUtils
    return tuple(csv_utils.makeSafeHeader(row, case_sensitive, opts))


def _first_line(jvm, conf, file) -> str | None:
    """The line Spark's CSV file read takes as the header of the Hadoop
    path ``file`` (behind its compression codec, if any): Hadoop's line
    reader drops a UTF-8 BOM that opens the file and ends lines at
    ``\\n``, ``\\r`` or ``\\r\\n``, and the first line that SQL ``trim``
    (spaces only) leaves non-empty is the header."""
    stream = jvm.org.apache.spark.sql.execution.datasources.CodecStreams.createInputStream(
        conf, file
    )
    try:
        data = b""
        while True:
            chunk = bytes(stream.readNBytes(_HEADER_CHUNK))
            data += chunk
            eof = len(chunk) < _HEADER_CHUNK
            lines = re.split(rb"\r\n|\r|\n", data.removeprefix(b"\xef\xbb\xbf"))
            if not eof:
                lines.pop()  # it may go on in the next chunk
            for line in lines:
                if line.strip(b" "):
                    return line.decode("utf-8", "replace")
            if eof:
                return None
    finally:
        stream.close()


def read_usda_csv(spark: SparkSession, path: str, table: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import types as T

    dtypes = {"bigint": T.LongType(), "double": T.DoubleType(), "string": T.StringType()}
    types = USDA_CSV_TYPES[table]

    def schema_for(cols: tuple[str, ...]) -> T.StructType:
        return T.StructType(
            [T.StructField(c, dtypes[types.get(c, "string")], True) for c in cols]
        )

    paths = _listed_files(spark, path)
    if not paths:  # an empty directory: let the CSV source say so
        return spark.read.option("header", True).csv(path)
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    sql_conf = state.conf()
    opts = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.PythonUtils.toScalaMap({"header": "true"}),
        True,
        sql_conf.sessionLocalTimeZone(),
        sql_conf.columnNameOfCorruptRecord(),
    )
    conf = state.newHadoopConf()
    case_sensitive = sql_conf.caseSensitiveAnalysis()
    headers = {str(p): _csv_header(jvm, opts, conf, case_sensitive, p) for p in paths}
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
