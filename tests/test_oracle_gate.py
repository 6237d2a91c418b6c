"""CI wiring for the full oracle gate (ADVICE r02, medium).

The external driver only verifies the first 50 registered queries, so a
regression in any beyond-window query would otherwise merge behind a
green driver gate.  This test runs tools/check_correctness.py's compare
over EVERY ``queries()`` entry — in-window and beyond — at the smoke
scale, making the local checker a required check rather than an
optional tool.

Marked ``slow`` (r11 verdict task 2): the full 192-query sweep runs
~700s and duplicates the gate the DRIVER itself runs over the window;
the default pytest selection must fit the driver's verify window.  It
still runs on every `pytest -m ""` (the round-close full run) and via
the per-round tools/check_correctness.py 3-scale sweeps.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

pytestmark = pytest.mark.slow

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import compare  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from usda_food_data_pipeline_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = entry.queries()
_ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, duck, name):
    res = compare(name, _QUERIES[name](spark, SF_DIR), _ORACLES.get(name), duck)
    spark.catalog.clearCache()
    assert res.get("ok"), res


def test_every_oracle_has_a_query():
    dangling = set(_ORACLES) - set(_QUERIES)
    assert not dangling, f"oracle_sql entries without queries(): {dangling}"


def test_gate_rejects_nonscalar_output(spark, duck):
    """r03 regression: the driver's pandas canonicalizer crashes on list
    cells, but this gate used to stringify them and pass.  A deliberately
    array-returning query must now FAIL with nonscalar_output."""
    df = spark.range(3).selectExpr("id", "array(id, id + 1) AS arr")
    res = compare("_nonscalar_probe", df, "SELECT 1 AS id, [1, 2] AS arr", duck)
    assert not res.get("ok")
    assert res.get("status") == "nonscalar_output", res
    assert "arr" in res.get("nonscalar_cols", {})


def test_no_rows_only_query_returns_nonscalar(spark):
    """Rows-only queries (no oracle) skip compare()'s nonscalar rejection,
    so their schemas are checked here. Oracle-paired queries are already
    covered: test_query_matches_oracle routes every one of them through
    compare(), which now fails on any list/struct/map output column.
    (Scoped to rows-only queries on purpose — building the oracle-paired
    DataFrames here would re-execute the eager iterative queries.)"""
    offenders = {}
    for name in _QUERIES:
        if _ORACLES.get(name) is not None:
            continue
        df = _QUERIES[name](spark, SF_DIR)
        bad = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "struct", "map")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
