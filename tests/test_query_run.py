"""Block ownership (session.QueryRun): every cache a query persists and
every ``localCheckpoint`` it makes is released by exactly one owner —
the run around the call that materializes the result, an eager
operator's own ``finally``, or, for the ``__spark_entry__`` contract,
the next query's start. A query leaves nothing in the cache manager
(``_cache_empty``) nor in the JVM's persistent-RDD registry, which
also holds checkpoint blocks (``rdd_blocks.persistent_rdd_ids``)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark import registry
from usda_food_data_pipeline_spark.session import QueryRun, own, own_materialized
from usda_food_data_pipeline_spark.sources.tables import TABLES

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import compare  # noqa: E402
from rdd_blocks import persistent_rdd_ids  # noqa: E402


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cached(df: DataFrame) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_retrieve_hybrid_leaves_no_cache(spark, tmp_path):
    """Each call used to leak the BM25 side's persisted tf table."""
    from usda_food_data_pipeline_spark import api

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "greek yogurt plain"), (2, "yogurt with honey"), (3, "salted butter")],
        "doc_id long, text string",
    )
    api.build_index(spark, docs, "text", "doc_id", str(tmp_path / "idx"))
    a = api.retrieve_hybrid(spark, str(tmp_path / "idx"), docs, "greek yogurt", k=2)
    b = api.retrieve_hybrid(spark, str(tmp_path / "idx"), docs, "salted butter", k=2)
    assert a[0]["doc_id"] == 1 and b[0]["doc_id"] == 3
    assert _cache_empty(spark)


def test_raise_mid_query_releases_persists(spark, sf_dir, monkeypatch):
    """An eager operator releases its persists in ``finally`` (here
    triangle_count's edge list and oriented table), and a run releases
    what it owns, when the query raises."""
    from usda_food_data_pipeline_spark.operators.graph import triangle_count

    spark.catalog.clearCache()

    def boom(self, eager=True):
        raise RuntimeError("checkpoint failed")

    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    monkeypatch.setattr(type(pairs), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        triangle_count(pairs)
    assert _cache_empty(spark)

    with pytest.raises(RuntimeError, match="checkpoint failed"), QueryRun():
        registry.queries()["training_pipeline"](spark, sf_dir)
    assert _cache_empty(spark)


# every registered query that makes a localCheckpoint
CHECKPOINTING = [
    "triangle_count",
    "pagerank_parts",
    "label_propagation",
    "kcore_nodes",
    "training_pipeline",
    "snapshot_read",
    "bpe_train",
]


@pytest.mark.parametrize("name", CHECKPOINTING)
def test_checkpointing_query_leaves_no_blocks(spark, sf_dir, monkeypatch, name):
    """The run frees every checkpoint the query made, when it finishes
    and when it raises at its last checkpoint (a loop's earlier
    generations are then still live)."""
    spark.catalog.clearCache()
    before = persistent_rdd_ids(spark)
    df_cls = type(spark.range(0))
    real = df_cls.localCheckpoint
    calls = []

    def counting(self, eager=True):
        calls.append(self)
        return real(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", counting)
    with QueryRun():
        registry.queries()[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert calls
    assert _cache_empty(spark)
    assert not (persistent_rdd_ids(spark) - before)

    last = len(calls)
    calls.clear()

    def failing(self, eager=True):
        calls.append(self)
        if len(calls) == last:
            raise RuntimeError("checkpoint failed")
        return real(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="checkpoint failed"), QueryRun():
        registry.queries()[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert _cache_empty(spark)
    assert not (persistent_rdd_ids(spark) - before)


def test_checkpoint_whose_job_raises_leaves_no_blocks(spark):
    """A checkpoint's blocks are the run's before the job that writes
    them runs: when that job raises, the run still frees them. On the
    good path the result is checkpointed and read without its shuffle."""
    from pyspark.errors import PySparkException

    from usda_food_data_pipeline_spark.session import checkpoint

    before = persistent_rdd_ids(spark)
    bad = spark.range(100).select(
        F.when(F.col("id") == 57, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(PySparkException, match="boom"), QueryRun():
        checkpoint(bad)
    assert not (persistent_rdd_ids(spark) - before)

    with QueryRun():
        out = checkpoint(spark.range(100).repartition(4, "id"))
        assert out._jdf.queryExecution().analyzed().rdd().isCheckpointed()
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
        assert sorted(r.id for r in out.collect()) == list(range(100))
    assert not (persistent_rdd_ids(spark) - before)


def test_interleaved_runs_keep_each_others_caches(spark):
    spark.catalog.clearCache()
    first, second = QueryRun(), QueryRun()
    a = first.build(lambda: own(spark.range(10).withColumn("x", F.col("id") * 2)))
    with second:
        b = own(spark.range(10).withColumn("y", F.col("id") * 3))
        c = first.build(lambda: own(spark.range(10).withColumn("z", F.col("id") * 5)))
        # the nested build handed c to `first`, and `second` is active again
        d = own(spark.range(10).withColumn("w", F.col("id") * 7))
    assert not _cached(b) and not _cached(d)
    assert _cached(a) and _cached(c)
    assert a.count() == 10
    first.release()
    assert _cache_empty(spark)


def test_own_materialized_frees_build_caches(spark):
    """A composite's first side keeps only its materialized result: the
    caches its build persisted are freed before the next side runs, and
    also when the build raises."""
    spark.catalog.clearCache()
    built = {}

    def build():
        built["side"] = own(spark.range(10).withColumn("s", F.col("id") * 17))
        return built["side"].withColumn("t", F.col("s") + 1)

    with QueryRun():
        out = own_materialized(build)
        assert _cached(out) and not _cached(built["side"])
        assert out.count() == 10
    assert _cache_empty(spark)

    def failing_build():
        own(spark.range(10).withColumn("u", F.col("id") * 19)).count()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"), QueryRun():
        own_materialized(failing_build)
    assert _cache_empty(spark)


def test_runs_in_concurrent_threads_release_only_their_own(spark):
    """Two threads, each inside its own run, persist at the same time;
    the first to exit releases its cache and leaves the other's."""
    import threading

    spark.catalog.clearCache()
    both_owned, first_done = threading.Barrier(2, timeout=60), threading.Event()
    seen: dict[str, bool] = {}

    def query(tag: str, mult: int, exits_first: bool) -> None:
        with QueryRun():
            df = own(spark.range(10).withColumn(tag, F.col("id") * mult))
            df.count()
            both_owned.wait()
            if not exits_first:
                assert first_done.wait(60)
                seen[tag] = _cached(df)
        if exits_first:
            first_done.set()

    threads = [
        threading.Thread(target=query, args=("p", 11, True)),
        threading.Thread(target=query, args=("q", 13, False)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"q": True}
    assert _cache_empty(spark)


def test_entry_adapter_frees_previous_query_on_next_call(spark, sf_dir):
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    qs = entry.queries()
    flagship = qs["flagship"](spark, sf_dir)
    assert not _cache_empty(spark), "flagship owns its persisted dedup spine"
    n = flagship.count()
    assert n > 0
    # the caller materializes query N before calling query N+1, whose
    # start releases query N's run
    qs["group_mean"](spark, sf_dir).collect()
    assert _cache_empty(spark)
    entry._open_run.release()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", ["lsh_recall_eval", "training_pipeline", "split_leakage_eval", "flagship"]
)
def test_composite_in_run_matches_oracle_and_releases(spark, sf_dir, duck, name):
    """The composites that used to keep the janitor's track() protocol
    by hand: oracle-exact inside one run, and nothing cached after it.
    The run also holds the guard counters of the guarded query."""
    spark.catalog.clearCache()
    with QueryRun() as run:
        res = compare(
            name, registry.queries()[name](spark, sf_dir), registry.oracle_sql()[name], duck
        )
    assert res.get("ok"), res
    assert _cache_empty(spark)
    assert set(run.guards) == ({name} if name == "lsh_recall_eval" else set())
