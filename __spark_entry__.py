"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``usda_food_data_pipeline_spark``; this module
only adapts it to the driver's entry-point shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from usda_food_data_pipeline_spark import registry  # noqa: E402
from usda_food_data_pipeline_spark.plans.flagship import flagship_query  # noqa: E402
from usda_food_data_pipeline_spark.session import QueryRun, configure_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


# The caller materializes each returned lazy frame after the call, so
# a query's run cannot close on return: it stays open until the next
# query starts, which releases everything the previous one persisted.
_open_run: QueryRun | None = None


def _build(
    fn: Callable[[SparkSession, str], DataFrame], spark: SparkSession, sf_dir: str
) -> DataFrame:
    global _open_run
    configure_session(spark)
    if _open_run is not None:
        _open_run.release()
    _open_run = QueryRun()
    return _open_run.build(fn, spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _build(flagship_query, spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: partial(_build, fn) for name, fn in registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect ANSI SQL twin for each oracle-checkable query."""
    return registry.oracle_sql()
