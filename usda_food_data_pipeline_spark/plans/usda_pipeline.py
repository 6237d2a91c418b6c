"""The reference ETL pipeline, faithfully re-expressed as one lazy
Spark plan over USDA-shaped inputs.

Reference: ``usda_branded_food_data_pipeline.py:67-160`` — every stage
below cites the lines it re-implements. Differences from the reference
are deliberate and documented:

- **Lazy single-DAG**: the reference materializes a full pandas frame
  per step (:141-160); here every "cleaned_*" is an unmaterialized plan
  node and the sink triggers one optimized job (SURVEY §3.1).
- **Dedup determinism**: sort+drop_duplicates (:68-69) → window
  row_number (SURVEY §4 rule 2).
- **Null sanity ("sane mode")**: pandas str(NaN) produces literal
  ``'nan G'`` serving sizes that survive the later dropna (:77-79 vs
  :128, SURVEY §1.4 gotcha 1). Sane mode (default) nulls the composite
  when either part is null; ``faithful_nan=True`` reproduces the
  ``'nan G'`` artifact for bit-parity with the reference.
- **Rounding**: pandas round-half-even (:76,:123) → ``bround``
  (SURVEY §1.4 gotcha 2).

Scale notes: branded_food/food_nutrient are the fact tables — the plan
scans each once, and each one's rows cross exactly one shuffle (dedup
window on gtin_upc; group-mean on (fdc_id, nutrient_id), whose averaged
rows the pivot then gathers on fdc_id). That holds because the
reference's two ``isin`` filters (:85, :100) are left to the inner join
chain that subsumes them, instead of becoming semi-joins that each
re-scan and re-shuffle ``branded_food``. ``nutrient`` is a dimension:
collected once to the driver (~thousands of rows) for pivot values +
column names (J4 is a schema join, SURVEY §2.4). The final join chain
is keyed on FOOD_RECORD_ID on both sides; at 100 TB pre-bucket both
facts on fdc_id.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    concat_label_with_unit,
    resolve_thresholds,
    safe_cast_round,
    threshold_nullout,
)
from ..operators.dedup import dedup_latest

# Threshold rule tables, reference :14-23: max plausible value per
# nutrient column (by full label) and per unit (fallback).
DEFAULT_THRESHOLDS_BY_NAME: dict[str, float] = {
    "ENERGY (KCAL)": 902.0,
}
DEFAULT_THRESHOLDS_BY_UNIT: dict[str, float] = {
    "G": 100.0,
    "MG": 100_000.0,
    "UG": 100_000_000.0,
    "KCAL": 902.0,
    "KJ": 3774.0,
}

FIXED_COLUMNS = [
    "FOOD_RECORD_ID",
    "FOOD_ID",
    "FOOD_NAME",
    "FOOD_SERVING_SIZE",
    "FOOD_SERVING_SIZE_VALUE",
    "FOOD_SERVING_SIZE_UNIT",
    "FOOD_INGREDIENTS",
]


def clean_branded_food(branded_food: DataFrame, faithful_nan: bool = False) -> DataFrame:
    """:67-80 — dedup-latest per UPC, project/rename, normalize, typed
    serving size + composite string."""
    # sort by (gtin_upc, fdc_id desc) + keep first  →  window dedup (D1)
    latest = dedup_latest(branded_food, ["gtin_upc"], "fdc_id")
    size = safe_cast_round("serving_size", 2)  # :76 to_numeric+round
    unit = F.upper(F.trim(F.col("serving_size_unit")))
    if faithful_nan:
        # pandas str(NaN) == 'nan': null size → 'nan G'; null unit → null (:77-79)
        size_str = F.when(size.isNull(), F.lit("nan")).otherwise(size.cast("string"))
        composite = F.concat(size_str, F.lit(" "), unit)
    else:
        composite = F.concat(size.cast("string"), F.lit(" "), unit)
    return latest.select(
        F.col("fdc_id").alias("FOOD_RECORD_ID"),  # :70-72 project+rename
        F.upper(F.trim(F.col("gtin_upc"))).alias("FOOD_ID"),  # :73-74 normalize
        F.upper(F.trim(F.col("ingredients"))).alias("FOOD_INGREDIENTS"),
        composite.alias("FOOD_SERVING_SIZE"),  # :77-79 concat
        # SURVEY §1.2: the typed pair alongside the composite string —
        # the reference (:77-79) collapses to the string; downstream
        # numeric use shouldn't have to re-parse it
        size.alias("FOOD_SERVING_SIZE_VALUE"),
        unit.alias("FOOD_SERVING_SIZE_UNIT"),
    ).orderBy("FOOD_RECORD_ID")  # :80 (cosmetic; joins don't rely on it)


def clean_food(food: DataFrame) -> DataFrame:
    """:82-85 — rename, upper. The reference's ``isin`` filter (:85)
    keeps only branded records; the inner join with the branded table
    (:108-110) drops exactly the same rows, so it is not repeated here
    (Catalyst does not remove a semi-join an inner join makes
    redundant, and each one re-scans and re-shuffles ``branded_food``)."""
    return food.select(
        F.col("fdc_id").alias("FOOD_RECORD_ID"),
        F.upper(F.trim(F.col("description"))).alias("FOOD_NAME"),  # :83-84
    )


def clean_nutrient(nutrient: DataFrame) -> DataFrame:
    """:87-92 — ``NAME (UNIT)`` composite labels."""
    return nutrient.select(
        F.col("id").alias("NUTRIENT_ID"),
        concat_label_with_unit("name", "unit_name").alias("FOOD_NUTRIENT_NAME"),  # :89-91
    )


def clean_food_nutrient(
    food_nutrient: DataFrame,
    nutrient_labels: Mapping[int, str],
) -> DataFrame:
    """:94-106 — group-mean of duplicate measurements, pivot long→wide,
    dict-rename of pivot columns.

    The reference's ``isin`` filter (:100) is subsumed by the inner join
    chain (:108-110), which drops the same non-branded ``fdc_id``s after
    the pivot. The trade: stray measurements are averaged and shuffled
    before the join drops them (about 0.7 MB more shuffle on the
    benchmark's 130k-row landing), instead of re-scanning and
    re-shuffling ``branded_food`` to filter them first.

    ``nutrient_labels`` (nutrient_id → label) is the collected dimension:
    passing explicit pivot values avoids Spark's extra distinct job and
    pins the output schema at plan time (SURVEY §4 rule 1); the rename
    (:104-106) happens in the same select — a join against the schema.
    Pivoting with ``avg`` directly (:101-102) plans one partial
    ``avg`` per (record, nutrient) and one ``pivotfirst``.
    """
    ids = sorted(nutrient_labels)
    piv = food_nutrient.groupBy(F.col("fdc_id").alias("FOOD_RECORD_ID")).pivot(
        "nutrient_id", ids
    ).agg(F.avg("amount"))  # :101 group-mean, :102 pivot
    return piv.select(
        "FOOD_RECORD_ID",
        *[F.col(f"`{i}`").alias(nutrient_labels[i]) for i in ids],  # :104-106 rename
    )


def usda_pipeline(
    branded_food: DataFrame,
    food: DataFrame,
    nutrient: DataFrame,
    food_nutrient: DataFrame,
    thresholds_by_name: Mapping[str, float] | None = None,
    thresholds_by_unit: Mapping[str, float] | None = None,
    faithful_nan: bool = False,
) -> DataFrame:
    """:131-160 — the full DAG, one lazy plan."""
    branded = clean_branded_food(branded_food, faithful_nan)
    foods = clean_food(food)
    labels_df = clean_nutrient(nutrient)
    # J4: the nutrient dimension is collected once — it is a dimension
    # table (~thousands of rows); this is the one sanctioned collect.
    nutrient_labels = {
        r["NUTRIENT_ID"]: r["FOOD_NUTRIENT_NAME"] for r in labels_df.collect()
    }
    # Distinct nutrients can share a composite label (same name+unit).
    # pandas' dict-rename (:104-106) would emit duplicate column names;
    # Spark's later select-by-name would raise AMBIGUOUS_REFERENCE.
    # Sane mode: disambiguate with the nutrient id suffix.
    seen: dict[str, int] = {}
    for nid in sorted(nutrient_labels):
        label = nutrient_labels[nid]
        if label in seen:
            nutrient_labels[nid] = f"{label} [{nid}]"
        else:
            seen[label] = nid
    nutrients_wide = clean_food_nutrient(food_nutrient, nutrient_labels)

    # :108-110 inner join chain
    merged = branded.join(foods, "FOOD_RECORD_ID", "inner").join(
        nutrients_wide, "FOOD_RECORD_ID", "inner"
    )
    size = F.col("FOOD_SERVING_SIZE")
    # :154 dropna(ingredients); :127-128 drop "IU" serving sizes, then
    # null ones — Catalyst pushes the filter below the joins
    kept = merged.filter(
        F.col("FOOD_INGREDIENTS").isNotNull() & size.isNotNull() & ~size.contains("IU")
    )
    # :111-114 fixed prefix + sorted nutrient cols; :158 id → string
    nutrient_cols = sorted(nutrient_labels.values())
    wide = kept.select(
        F.col("FOOD_RECORD_ID").cast("string").alias("FOOD_RECORD_ID"),
        *FIXED_COLUMNS[1:],
        *nutrient_cols,
    )
    # :116-123 threshold null-out + round(2) on nutrient columns
    resolved = resolve_thresholds(
        nutrient_cols,
        thresholds_by_name or DEFAULT_THRESHOLDS_BY_NAME,
        thresholds_by_unit or DEFAULT_THRESHOLDS_BY_UNIT,
    )
    return threshold_nullout(wide, resolved, scale=2)
