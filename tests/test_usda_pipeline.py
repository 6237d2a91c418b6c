"""Golden tests for the faithful USDA pipeline on miniature USDA-shaped
fixtures (FIXTURES.md §A: duplicate UPCs, dirty serving sizes, IU units,
whitespace/case noise, semi-join strays, duplicate measurements)."""

from __future__ import annotations

import pytest

from usda_food_data_pipeline_spark.plans.usda_pipeline import usda_pipeline


@pytest.fixture(scope="module")
def usda_inputs(spark):
    branded = spark.createDataFrame(
        [
            # u1: two records → keep fdc_id 11 (dedup-latest)
            (10, "u1", "  sugar, salt ", "12.5", "g"),
            (11, "u1", "sugar, salt", "12.5", "g"),
            # u2: dirty serving size → null
            (20, "u2", "water", "n/a", "ml"),
            # u3: IU unit → row dropped at the end
            (30, "u3", "vitamins", "5", "IU"),
            # u4: null ingredients → dropped by dropna
            (40, "u4", None, "1", "g"),
        ],
        "fdc_id long, gtin_upc string, ingredients string, serving_size string, serving_size_unit string",
    )
    food = spark.createDataFrame(
        [
            (11, " Choc Bar "),
            (20, "Water"),
            (30, "Vites"),
            (40, "Mystery"),
            (99, "NotBranded"),  # absent from branded → semi-join drops
        ],
        "fdc_id long, description string",
    )
    nutrient = spark.createDataFrame(
        [(1, "Protein", "G"), (2, "Energy", "KCAL")],
        "id long, name string, unit_name string",
    )
    food_nutrient = spark.createDataFrame(
        [
            (11, 1, 10.0),
            (11, 1, 20.0),  # duplicate measurement → averaged to 15.0
            (11, 2, 5000.0),  # above KCAL threshold (902) → nulled
            (20, 2, 100.0),
            (99, 1, 1.0),  # stray fdc_id → semi-join drops
        ],
        "fdc_id long, nutrient_id long, amount double",
    )
    return branded, food, nutrient, food_nutrient


def test_pipeline_golden(spark, usda_inputs):
    out = usda_pipeline(*usda_inputs)
    rows = {r["FOOD_RECORD_ID"]: r for r in out.collect()}
    # u3 dropped (IU), u4 dropped (null ingredients), u2 dropped (null
    # serving size in sane mode) → only the deduped u1 survivor remains
    assert set(rows) == {"11"}
    r = rows["11"]
    assert r["FOOD_ID"] == "U1"
    assert r["FOOD_NAME"] == "CHOC BAR"
    assert r["FOOD_SERVING_SIZE"] == "12.5 G"
    # SURVEY §1.2: typed pair exposed alongside the composite
    assert r["FOOD_SERVING_SIZE_VALUE"] == 12.5
    assert r["FOOD_SERVING_SIZE_UNIT"] == "G"
    assert r["FOOD_INGREDIENTS"] == "SUGAR, SALT"
    assert r["PROTEIN (G)"] == 15.0  # group-mean of duplicates
    assert r["ENERGY (KCAL)"] is None  # thresholded out
    # column order: fixed prefix then sorted nutrient labels (:111-114)
    assert out.columns == [
        "FOOD_RECORD_ID", "FOOD_ID", "FOOD_NAME", "FOOD_SERVING_SIZE",
        "FOOD_SERVING_SIZE_VALUE", "FOOD_SERVING_SIZE_UNIT",
        "FOOD_INGREDIENTS", "ENERGY (KCAL)", "PROTEIN (G)",
    ]


def test_pipeline_faithful_nan_mode(spark, usda_inputs):
    # faithful mode reproduces pandas 'nan G' artifact (SURVEY §1.4
    # gotcha 1): u2's null serving size becomes 'NAN ML' string-wise —
    # and therefore SURVIVES the dropna, like the reference
    out = usda_pipeline(*usda_inputs, faithful_nan=True)
    rows = {r["FOOD_RECORD_ID"]: r for r in out.collect()}
    assert set(rows) == {"11", "20"}
    assert rows["20"]["FOOD_SERVING_SIZE"] == "nan ML"
    # the typed pair stays honest in faithful mode: no fake 'nan' double
    assert rows["20"]["FOOD_SERVING_SIZE_VALUE"] is None
    assert rows["20"]["FOOD_SERVING_SIZE_UNIT"] == "ML"


def test_duplicate_nutrient_labels_disambiguated(spark, usda_inputs):
    """Two nutrients with identical (name, unit) → identical composite
    labels; pandas would emit duplicate columns (ambiguous downstream),
    sane mode suffixes the nutrient id."""
    branded, food, nutrient, food_nutrient = usda_inputs
    nutrient_dup = spark.createDataFrame(
        [(1, "Protein", "G"), (2, "Energy", "KCAL"), (3, "Protein", "G")],
        "id long, name string, unit_name string",
    )
    fn_extra = food_nutrient.union(
        spark.createDataFrame([(11, 3, 7.0)], "fdc_id long, nutrient_id long, amount double")
    )
    out = usda_pipeline(branded, food, nutrient_dup, fn_extra)
    assert "PROTEIN (G)" in out.columns and "PROTEIN (G) [3]" in out.columns
    r = out.collect()[0]
    assert r["PROTEIN (G)"] == 15.0 and r["PROTEIN (G) [3]"] == 7.0


# -- the CSV→CSV path on the benchmark's seeded dirty landing ------------------


def _perfbench(module: str):
    """perfbench's fixture generator or DuckDB twin, imported read-only
    by path (the benchmark's modules import each other by bare name)."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", f"{module}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_{module}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


LANDING_SEEDS = (5, 6)


@pytest.fixture(scope="module")
def dirty_landing(tmp_path_factory):
    """Seeded USDA landings with stray fdc_ids, duplicate UPCs, duplicate
    measurements averaging off the 2-decimal grid and 2-decimal ties."""
    fixtures = _perfbench("fixtures")
    root = tmp_path_factory.mktemp("usda_landing")
    landings = {}
    for seed in LANDING_SEEDS:
        landings[seed] = str(root / f"seed{seed}")
        fixtures.usda_landing(landings[seed], seed, n_branded=1500,
                              n_generated_nutrients=8, per_food=6)
    return landings


def test_pipeline_plan_one_branded_scan_no_semi_join(spark, dirty_landing):
    """The reference's isin filters are left to the inner join chain:
    no LeftSemi join, one dedup Window, one scan of branded_food (the
    only input with a gtin_upc column)."""
    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    landing = dirty_landing[LANDING_SEEDS[0]]
    out = usda_pipeline(*[
        read_usda_csv(spark, f"{landing}/{n}.csv", n)
        for n in ("branded_food", "food", "nutrient", "food_nutrient")
    ])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" not in plan
    assert plan.count("Window [") == 1
    scans = [ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Relation [")]
    assert sum("gtin_upc" in ln for ln in scans) == 1
    assert len(scans) == 3  # branded_food, food, food_nutrient (nutrient is collected)


def test_run_pipeline_job_count(spark, dirty_landing, tmp_path):
    """api.run_pipeline runs the nutrient collect plus one job per query
    stage of the write: no header-probe jobs, no semi-join stages."""
    from usda_food_data_pipeline_spark import api

    sc = spark.sparkContext
    sc.setJobGroup("test_run_pipeline_jobs", "api.run_pipeline")
    try:
        api.run_pipeline(spark, dirty_landing[LANDING_SEEDS[0]], str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_run_pipeline_jobs")) <= 7


@pytest.mark.parametrize("seed", LANDING_SEEDS)
def test_run_pipeline_matches_duckdb_twin(spark, dirty_landing, tmp_path, seed):
    """Differential check of the whole CSV→CSV path against perfbench's
    DuckDB twin of the reference (semi-joins before the average, an
    explicit group-mean then pivot, Spark-style half-even rounding):
    same row count and order-insensitive value hash."""
    import duckdb

    from usda_food_data_pipeline_spark import api

    checks = _perfbench("checks")
    landing = dirty_landing[seed]
    out = str(tmp_path / "out")
    api.run_pipeline(spark, landing, out)
    con = duckdb.connect()
    try:
        want = checks.value_hash(*checks.etl_twin(con, landing))
        got = checks.value_hash(*checks.etl_output(con, out))
    finally:
        con.close()
    assert want["rows"] > 500
    assert got == want


def test_run_pipeline_landing_dir_with_space(spark, dirty_landing, tmp_path):
    """A landing directory whose name has a space (``%20`` in the URIs
    Spark lists) is read like any other: same output as the twin."""
    import shutil

    import duckdb

    from usda_food_data_pipeline_spark import api

    checks = _perfbench("checks")
    src = dirty_landing[LANDING_SEEDS[0]]
    landing = shutil.copytree(src, tmp_path / "USDA landing")
    out = str(tmp_path / "out")
    api.run_pipeline(spark, str(landing), out)
    con = duckdb.connect()
    try:
        want = checks.value_hash(*checks.etl_twin(con, src))
        got = checks.value_hash(*checks.etl_output(con, out))
    finally:
        con.close()
    assert got == want
