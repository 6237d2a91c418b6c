"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are cluster-safe: AQE re-plans joins/partitions at runtime, UTC
session timezone keeps timestamp semantics portable, and Arrow is enabled
for the (rare) pandas-UDF paths.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

from . import class_archive


def get_spark(app_name: str = "usda-food-data-pipeline-spark") -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``spark.sql.shuffle.partitions`` is the local core count — the 200
    default over-parallelizes small local runs; on a real cluster AQE
    coalescing makes the static number mostly irrelevant. A call that
    launches the driver JVM maps (or records) its class-data archive
    (:mod:`.class_archive`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        # 256 MB: executors here (and the 100 TB design point) carry
        # 100+ GiB of memory, so a quarter-GB build side is cheap; under
        # AQE the threshold is re-checked against RUNTIME sizes, so a
        # table that is genuinely large at production scale still plans
        # as a shuffle join — raising this only converts joins whose
        # build side MEASURES small. Measured: the sf3 jaccard verify
        # joins (150k-doc shingle-array table, ~105 MB) drop from
        # shuffling 46M candidate rows twice to two broadcast lookups,
        # 165s -> 118s for the whole query.
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/collect_set/percentile paths)
        # falls back to sort-based aggregation after only 128 distinct keys
        # by default — every high-cardinality array agg pays an external
        # sort it doesn't need. 128k keys of small aggregation buffers fit
        # comfortably per task; the sort fallback still protects the
        # genuinely huge-group case beyond that. Measured 25% off
        # array_agg_quantities at sf1 (6M rows, 1.5M groups).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", str(128 * 1024))
        # Janino-compiled classes, keyed by generated source (a static
        # conf: it must be set before the session starts). The default
        # 100 thrashes: one pass of triangle_count, tpch_q18_big_orders
        # and flagship needs ~116 classes, so every warm pass recompiled
        # ~89 of them. One registry pass at sf0.001 compiles 2,441
        # distinct classes (counted with an unbounded cache; metaspace
        # ~80 MB after it). Guava's cache evicts per segment before it
        # reaches the cap, so the cap leaves headroom over that count.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    # 32 concurrent task threads doing compressed spill reads sit in
    # JNI critical sections; G1's GCLocker then starves the other
    # threads' 1 MB read-buffer allocations (observed: "Retried
    # waiting for GCLocker too often" -> spurious task OOM under an
    # undersized heap, multi-second allocation stalls otherwise).
    # More retries is strictly safer than failing the task.
    #
    # GC regime (r12 opt, measured): this process is a BATCH driver
    # — throughput matters, pause latency does not. Interleaved
    # fresh-session A/B of a 10-query medium subset at sf0.1
    # (3 sessions per GC, alternating): ParallelGC totals
    # 43.8/52.6/72.4s vs G1 59.3/59.7/62.0s; per-query min-of-3
    # ratios 0.67-1.01, geomean 0.83 (AB_NOTES round12_opt_gc_ab).
    java_opts = (
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
        " -XX:+UseParallelGC"
    )
    spark = class_archive.get_or_create(builder, memory, java_opts)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-created session.

    The driver harness passes its own SparkSession to ``entry``/``queries``;
    only session-TZ matters for oracle parity (timestamps are compared
    against a UTC-naive DuckDB), so pin it here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


class QueryRun:
    """Owner of every cache and checkpoint one query makes.

    Operators return lazy plans that read ``persist()``-ed or
    ``localCheckpoint``-ed intermediates, so only the caller that
    materializes the result knows when those blocks are dead. That
    caller opens a run around building and materializing the query;
    :func:`own` and :func:`checkpoint` register each block with the
    active run, and leaving the ``with`` block (normally or by an
    exception) frees all of them. The run also holds the query's
    :class:`~.operators.dedup.GuardStats` by name (:func:`guard`).

    Runs nest and interleave safely: the active run lives in a
    ``ContextVar``, and a run only ever releases what it owns.
    """

    def __init__(self) -> None:
        self._owned: list[DataFrame] = []
        self._checkpoints: list[DataFrame] = []
        self.guards: dict[str, object] = {}

    def __enter__(self) -> QueryRun:
        self._token = _ACTIVE.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _ACTIVE.reset(self._token)
        self.release()

    def build(self, fn, *args):
        """``fn(*args)`` with this run active, keeping what it owns
        until :meth:`release` (for callers whose result is materialized
        after they return)."""
        token = _ACTIVE.set(self)
        try:
            return fn(*args)
        finally:
            _ACTIVE.reset(token)

    def release(self) -> None:
        for df in self._owned:
            df.unpersist(False)
        for df in self._checkpoints:
            _free_checkpoint(df)
        self._owned, self._checkpoints = [], []


_ACTIVE: ContextVar[QueryRun | None] = ContextVar("query_run", default=None)


def own(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the life of the active run. With no run active
    this is a plain persist that the caller's ``clearCache()`` frees."""
    df = df.persist()
    run = _ACTIVE.get()
    if run is not None:
        run._owned.append(df)
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` for the life of the active run, as
    :func:`own` is for a persist. With no run active nothing owns the
    blocks: they go when the driver garbage-collects the frame, or by
    :func:`release`.

    The blocks are registered before the job that writes them runs, so
    a run frees them even when that job raises: the lazy checkpoint
    marks the RDD under the frame, the run takes the frame, and the RDD
    is then counted as Spark's eager path would."""
    out = df.localCheckpoint(eager=False)
    run = _ACTIVE.get()
    if run is not None:
        run._checkpoints.append(out)
    if eager:
        out._jdf.queryExecution().analyzed().rdd().count()
    return out


def release(df: DataFrame) -> None:
    """Free the blocks of ``df``, a frame :func:`checkpoint` returned,
    now: an iterative loop's superseded generation, with or without an
    active run. A later read of ``df`` raises."""
    run = _ACTIVE.get()
    if run is not None:
        run._checkpoints = [c for c in run._checkpoints if c is not df]
    _free_checkpoint(df)


def _free_checkpoint(df: DataFrame) -> None:
    # DataFrame.unpersist() is a no-op on checkpoint blocks; they belong
    # to the RDD under the frame's LogicalRDD
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def own_materialized(build: Callable[[], DataFrame]) -> DataFrame:
    """``own(build())``, counted inside a nested run: the caches and
    checkpoints that ``build`` makes are freed once the result is
    materialized, so a composite query's first side does not hold its
    build blocks while the next side runs. The result belongs to the
    active run."""
    inner = QueryRun()
    try:
        df = own(inner.build(build))
        df.count()
    finally:
        inner.release()
    return df


def concurrently(spark: SparkSession, *fns: Callable[[], object]) -> list:
    """``[fn() for fn in fns]``, each ``fn`` on its own thread so that
    their Spark jobs run at once. The threads carry the caller's job
    group, job tags and other local properties
    (``inheritable_thread_target``), so their jobs count in the caller's
    profile and a ``cancelJobGroup`` reaches them. The active
    :class:`QueryRun` does not cross into the threads: ``fns`` must not
    call :func:`own` or :func:`checkpoint`."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    carry = inheritable_thread_target(spark)
    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(carry(fn)) for fn in fns]
        return [f.result() for f in futures]


def guard(name: str):
    """A fresh GuardStats for query ``name``, held by the active run so
    the caller can read the guard counters after materializing."""
    from .operators.dedup import GuardStats

    obs = GuardStats()
    run = _ACTIVE.get()
    if run is not None:
        run.guards[name] = obs
    return obs
