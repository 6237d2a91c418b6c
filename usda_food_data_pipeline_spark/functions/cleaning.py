"""Scalar cleaning functions (SURVEY §2.6, F1-F10).

All of these compile to built-in Catalyst expressions — JVM-side,
whole-stage-codegen'd; no Python UDFs anywhere on this path. Reference
analogs cited per function.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Trim + upper-case string columns.

    Reference F1: ``.str.strip().str.upper()`` applied to all object
    columns (usda_branded_food_data_pipeline.py:73-74,84).
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    out = df
    for c in columns:
        out = out.withColumn(c, F.upper(F.trim(F.col(c))))
    return out


def safe_cast_round(col: Column | str, scale: int = 2) -> Column:
    """Null-on-failure numeric cast + banker's rounding.

    Reference F2: ``pd.to_numeric(errors='coerce').round(2)``
    (usda_branded_food_data_pipeline.py:76). pandas rounds half-to-even,
    so ``bround`` (not ``round``) is the faithful mapping (SURVEY §1.4).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.bround(c.try_cast(T.DoubleType()), scale)


def grid_round_col(col: Column | str, dp: int = 2) -> Column:
    """Engine-portable replacement for ``F.round`` on a compared double
    column: ``floor(x·10^dp + 0.5) / 10^dp`` — every step is exact or
    correctly-rounded IEEE arithmetic, so Spark and any DuckDB build
    produce identical bits.  Float ``round()`` tie handling is
    engine-implementation-defined (Spark rounds the shortest decimal
    repr half-up, DuckDB rounds the binary value) — the same
    cross-engine fragility class that cost the lm/dsir rounds, banned
    on compared columns by tests/test_rotation_gate.py (r08 verdict
    task 5).  Ties snap toward +inf on both engines; null propagates."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**dp)
    return F.floor((c * F.lit(scale)) + F.lit(0.5)) / F.lit(scale)


def sql_grid_round(expr: str, dp: int = 2) -> str:
    """Oracle-SQL twin of :func:`grid_round_col`, spelled op for op."""
    scale = repr(float(10**dp))
    return f"(CAST(floor((({expr}) * {scale}) + 0.5) AS BIGINT) / {scale})"


def concat_label_with_unit(name: Column | str, unit: Column | str) -> Column:
    """``NAME (UNIT)`` composite label.

    Reference F4: ``name.upper() + ' (' + unit.upper() + ')'``
    (usda_branded_food_data_pipeline.py:89-91). ``concat`` (not
    ``concat_ws``) so a null name/unit propagates to null like pandas.
    """
    n = F.col(name) if isinstance(name, str) else name
    u = F.col(unit) if isinstance(unit, str) else unit
    return F.concat(F.upper(F.trim(n)), F.lit(" ("), F.upper(F.trim(u)), F.lit(")"))


def threshold_nullout(
    df: DataFrame, thresholds: Mapping[str, float], scale: int | None = 2
) -> DataFrame:
    """Null-out values above a per-column threshold, then round.

    Reference F5/F6: ``col.where(col <= t, np.nan)`` + ``.round(2)``
    (usda_branded_food_data_pipeline.py:116-123). Threshold resolution is
    plan-time Python (the reference resolves by column name with a
    unit-suffix fallback, :119-120 — see ``resolve_thresholds``); the
    generated plan is one ``when`` per column in one projection, fully
    codegen'd.
    """
    def nullout(c: str, t: float) -> Column:
        kept = F.when(F.col(c) <= F.lit(t), F.col(c))
        return F.bround(kept, scale) if scale is not None else kept

    return df.withColumns({c: nullout(c, t) for c, t in thresholds.items()})


def resolve_thresholds(
    columns: list[str],
    by_name: Mapping[str, float],
    by_unit: Mapping[str, float],
) -> dict[str, float]:
    """Column→threshold rule table: exact name first, unit-suffix fallback.

    Reference F5/F10: threshold dict keyed by full column name, falling
    back to the unit parsed from the trailing ``"(UNIT)"`` of the column
    name (usda_branded_food_data_pipeline.py:14-23,116-122 and the
    ``column.split('(')[-1]`` parse at :119).
    """
    resolved: dict[str, float] = {}
    for c in columns:
        if c in by_name:
            resolved[c] = by_name[c]
            continue
        unit = c.split("(")[-1].replace(")", "").strip() if "(" in c else None
        if unit is not None and unit in by_unit:
            resolved[c] = by_unit[unit]
    return resolved


def row_null_count(columns: list[str]) -> Column:
    """Per-row count of nulls across ``columns``.

    Reference A3: ``df.isna().sum(axis=1)``
    (utils/extract_most_populated_rows.py:4). Horizontal fold of
    ``when(isnull, 1)`` — stays inside codegen.
    """
    total = F.lit(0)
    for c in columns:
        total = total + F.when(F.col(c).isNull(), 1).otherwise(0)
    return total


# --- Oracle-deterministic aggregates -------------------------------------
#
# Double-precision SUM is order-dependent; Spark's partial aggregation and
# DuckDB's scan order will not add in the same sequence, so raw
# sum(double) can differ in the last bits and break exact value-hash
# comparison. Casting each addend to DECIMAL makes the sum exact and
# order-independent on both engines; the final cast back to double is a
# single deterministic conversion. Use these for any oracle-checked
# aggregate over doubles.

def deterministic_sum(col: Column | str, precision: int = 30, scale: int = 6) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(T.DecimalType(precision, scale))).cast("double")


def deterministic_avg(col: Column | str, precision: int = 30, scale: int = 6) -> Column:
    """Exact-decimal sum divided (as double) by count — identical on any
    engine that reads the same rows, regardless of aggregation order."""
    c = F.col(col) if isinstance(col, str) else col
    return deterministic_sum(c, precision, scale) / F.count(c)


def oracle_sum_sql(expr: str, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`deterministic_sum`."""
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(30,{scale}))) AS DOUBLE)"
