"""Driver work that does not depend on the data: generated classes
compiled again on a warm pass, footer-reading jobs when a parquet table
is opened, and jobs that pool threads start outside the caller's job
group."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from usda_food_data_pipeline_spark import registry
from usda_food_data_pipeline_spark.session import QueryRun
from usda_food_data_pipeline_spark.sources.tables import TABLES, load_table, read_parquet

CURATION = ("triangle_count", "tpch_q18_big_orders", "flagship")


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _group_jobs(spark, group, fn) -> list[int]:
    """Ids of the jobs ``fn()`` starts in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _run(spark, sf_dir, name) -> None:
    with QueryRun():
        df = registry.queries()[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """A second pass over the curation queries finds every generated
    class in Spark's codegen cache. With the default 100 entries the
    cache thrashed and each warm pass recompiled ~89 classes."""
    for name in CURATION:
        _run(spark, sf_dir, name)
    before = _compiles(spark)
    for name in CURATION:
        _run(spark, sf_dir, name)
    assert _compiles(spark) - before <= 5


def test_load_table_runs_no_job(spark, sf_dir):
    """Opening a table reads its schema on the driver: no Spark job, and
    so none in a build that only opens tables and plans."""
    for name in TABLES:
        assert _group_jobs(spark, f"open_{name}", lambda: load_table(spark, sf_dir, name)) == []
    q18 = registry.queries()["tpch_q18_big_orders"]

    def build():
        with QueryRun():
            q18(spark, sf_dir)

    assert _group_jobs(spark, "build_tpch_q18_big_orders", build) == []


@pytest.mark.parametrize("name", ["dsir_select", "lm_doc_scores"])
def test_pool_thread_jobs_join_the_caller_group(spark, sf_dir, name):
    """The jobs a query starts from its pool threads run in the caller's
    job group, so a profile counts them and a cancel reaches them."""
    sc = spark.sparkContext
    last = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
    jobs = _group_jobs(spark, f"pool_{name}", lambda: _run(spark, sf_dir, name))
    strays = [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > last]
    assert jobs and strays == []


def _write(path, table, **kw) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, **kw)


def _case(spark, sf_dir, tmp_path, case):
    """The paths to read, after writing them, and the confs to set."""
    ints = pa.table({"x": pa.array([1, 2], pa.int64())})
    wider = pa.table({"x": pa.array([3], pa.int64()), "y": ["a"]})
    if case == "multi_file_dir":
        # the first file by path decides; the second has one more column
        _write(tmp_path / "a.parquet", ints)
        _write(tmp_path / "b.parquet", wider)
        return [str(tmp_path)], {}
    if case == "common_metadata":
        _write(tmp_path / "part-0.parquet", ints)
        pq.write_metadata(wider.schema, tmp_path / "_metadata")
        pq.write_metadata(
            pa.schema([("x", pa.int64()), ("c", pa.float64())]), tmp_path / "_common_metadata"
        )
        return [str(tmp_path)], {}
    if case == "metadata_only":
        _write(tmp_path / "part-0.parquet", ints)
        pq.write_metadata(wider.schema, tmp_path / "_metadata")
        return [str(tmp_path)], {}
    if case == "partitioned":
        _write(tmp_path / "k=1" / "part-0.parquet", ints)
        _write(tmp_path / "k=2" / "part-0.parquet", ints)
        return [str(tmp_path)], {}
    if case == "spark_written":
        # Spark keeps its own schema (here: a varchar and a comment) in
        # the footer's row metadata, which wins over the parquet types
        from pyspark.sql import functions as F

        out = str(tmp_path / "spark")
        spark.sql("SELECT CAST('a' AS VARCHAR(3)) AS v, 1.5BD AS d, map('k', 1) AS m").select(
            "v", F.col("d").alias("d", metadata={"comment": "price"}), "m"
        ).write.parquet(out)
        return [out], {}
    if case.startswith("nanos"):
        ns = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
        _write(tmp_path / "events.parquet", pa.table({"ts": ns}))
        on = "true" if case == "nanos_as_long" else "false"
        return [str(tmp_path / "events.parquet")], {"spark.sql.legacy.parquet.nanosAsLong": on}
    if case.startswith("events"):
        on = "true" if case == "events_nanos_as_long" else "false"
        return [f"{sf_dir}/events.parquet"], {
            "spark.sql.legacy.parquet.nanosAsLong": on
        }
    if case == "binary_as_string":
        _write(tmp_path / "b.parquet", pa.table({"b": pa.array([b"ab"], pa.binary())}))
        return [str(tmp_path / "b.parquet")], {"spark.sql.parquet.binaryAsString": "true"}
    if case == "path_with_space":
        _write(tmp_path / "USDA landing 100%" / "part-0.parquet", wider)
        return [str(tmp_path / "USDA landing 100%")], {}
    if case == "several_paths":
        _write(tmp_path / "z" / "part-0.parquet", wider)
        _write(tmp_path / "a" / "part-0.parquet", ints)
        return [str(tmp_path / "z"), str(tmp_path / "a")], {}
    assert case == "merge_schema"
    _write(tmp_path / "a.parquet", ints)
    _write(tmp_path / "b.parquet", wider)
    return [str(tmp_path)], {"spark.sql.parquet.mergeSchema": "true"}


@pytest.fixture
def session_confs(spark):
    """Sets confs for one test and puts back what they were."""
    set_keys: dict[str, str | None] = {}

    def apply(confs: dict[str, str]) -> None:
        for key, value in confs.items():
            set_keys.setdefault(key, spark.conf.get(key, None))
            spark.conf.set(key, value)

    yield apply
    for key, value in set_keys.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("case", [
    "multi_file_dir", "common_metadata", "metadata_only", "partitioned", "spark_written",
    "nanos_as_long", "events_nanos_as_long", "events", "binary_as_string",
    "path_with_space", "several_paths", "merge_schema",
])
def test_read_parquet_schema_matches_spark(spark, sf_dir, tmp_path, session_confs, case):
    """read_parquet opens with the schema spark.read.parquet infers (JSON
    equal: names, types, nullability, metadata), reads the same rows,
    and starts no job unless it defers to Spark (mergeSchema)."""
    paths, confs = _case(spark, sf_dir, tmp_path, case)
    session_confs(confs)
    want = spark.read.parquet(*paths)
    opened = []
    jobs = _group_jobs(
        spark, f"read_parquet_{case}", lambda: opened.append(read_parquet(spark, *paths))
    )
    [got] = opened
    assert got.schema.json() == want.schema.json()
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert (jobs != []) == (case == "merge_schema")


def test_read_parquet_nanos_without_legacy_conf_raises_like_spark(
    spark, sf_dir, tmp_path, session_confs
):
    """A nanosecond timestamp without the legacy conf fails to open as
    Spark's own read fails."""
    paths, confs = _case(spark, sf_dir, tmp_path, "nanos")
    session_confs(confs)
    with pytest.raises(Exception) as want:
        spark.read.parquet(*paths)
    with pytest.raises(Exception) as got:
        read_parquet(spark, *paths)
    assert type(got.value) is type(want.value)


def test_read_parquet_empty_or_missing_raises_spark_error(spark, tmp_path):
    """No files to read a footer from: Spark's own read raises."""
    from pyspark.errors import AnalysisException

    (tmp_path / "empty").mkdir()
    for path, condition in (
        (str(tmp_path / "empty"), "UNABLE_TO_INFER_SCHEMA"),
        (str(tmp_path / "missing"), "PATH_NOT_FOUND"),
    ):
        with pytest.raises(AnalysisException) as want:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as got:
            read_parquet(spark, path)
        assert got.value.getCondition() == want.value.getCondition() == condition
        assert str(got.value) == str(want.value)
