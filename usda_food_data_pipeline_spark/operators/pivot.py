"""Group-aggregate + pivot (SURVEY §2.5 A1/A2, §2.4 J4).

Reference analog: duplicate nutrient measurements are group-averaged
(usda_branded_food_data_pipeline.py:101) then pivoted long→wide (:102),
and the pivot columns are renamed from a dimension-derived dict
(:104-106). Spark mapping: ``groupBy().pivot(values=...)`` with EXPLICIT
pivot values — passing the values skips Spark's extra distinct-scan job
and makes the output schema deterministic at plan time (SURVEY §4 custom
rule 1). The rename (J4) is a join executed against the schema, not the
data: collect the (small) dimension once, alias columns.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import deterministic_avg


# Guardrail (SURVEY §7 step 8): a data-dependent pivot can silently try
# to create tens of thousands of columns; wide rows break codegen and
# executor memory long before correctness fails. 10k mirrors Spark's own
# spark.sql.pivotMaxValues default.
MAX_PIVOT_WIDTH = 10_000


def group_avg_pivot(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    value_col: str,
    pivot_values: list[str],
    rename: Mapping[str, str] | None = None,
    max_width: int = MAX_PIVOT_WIDTH,
) -> DataFrame:
    """AVG ``value_col`` per (group, pivot) then pivot wide.

    One shuffle on ``group_col``; partial aggregation map-side. The avg
    is computed with the exact-decimal trick so results hash-match any
    other engine (see functions.cleaning.deterministic_avg). The avg is
    left unrounded: rounding a quotient can land on a decimal tie where
    engines disagree (string-based vs binary-based rounding); the raw
    double is bit-identical everywhere.
    """
    if len(pivot_values) > max_width:
        raise ValueError(
            f"pivot width {len(pivot_values)} exceeds guardrail {max_width}; "
            "aggregate to long format or raise max_width explicitly"
        )
    agg = deterministic_avg(value_col)
    piv = df.groupBy(group_col).pivot(pivot_col, pivot_values).agg(agg.alias("v"))
    if rename:
        piv = piv.select(
            group_col, *[F.col(f"`{v}`").alias(rename.get(v, v)) for v in pivot_values]
        )
    return piv
