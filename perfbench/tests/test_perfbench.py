"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import numpy as np
import pytest

import checks
import fixtures
from tracing import OpLog, percentile


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "make",
    [
        lambda d, seed: fixtures.usda_landing(d, seed, n_branded=500, n_generated_nutrients=8),
        lambda d, seed: fixtures.food_corpus(d, seed, n_names=300, n_queries=20),
        lambda d, seed: fixtures.star_schema(d, seed, sf=0.001),
    ],
    ids=["usda_landing", "food_corpus", "star_schema"],
)
def test_generators_are_deterministic(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_usda_landing_carries_the_reference_dirt(tmp_path):
    import csv

    d = str(tmp_path)
    fixtures.usda_landing(d, 3, n_branded=2000, n_generated_nutrients=20)

    def rows(name):
        with open(os.path.join(d, f"{name}.csv"), encoding="ascii") as f:
            return list(csv.DictReader(f))

    branded, food, fn = rows("branded_food"), rows("food"), rows("food_nutrient")
    upcs = [r["gtin_upc"] for r in branded]
    assert len(set(upcs)) < len(upcs)  # duplicate UPCs
    assert any(r["serving_size"] == "n/a" for r in branded)
    assert any(r["serving_size_unit"] == "IU" for r in branded)
    assert any(r["ingredients"] == "" for r in branded)  # null ingredients
    ids = {r["fdc_id"] for r in branded}
    assert any(r["fdc_id"] not in ids for r in food)  # stray fdc_ids
    assert any(r["fdc_id"] not in ids for r in fn)
    keys = [(r["fdc_id"], r["nutrient_id"]) for r in fn]
    assert len(set(keys)) < len(keys)  # duplicate measurements
    units = {r["id"]: r["unit_name"].upper() for r in rows("nutrient")}
    over = [float(r["amount"]) > fixtures.THRESHOLDS.get(units[r["nutrient_id"]], 1e12) for r in fn]
    kcal = [r for r, o in zip(fn, over) if o and units[r["nutrient_id"]] == "KCAL"]
    assert kcal and sum(over) > len(kcal)  # above the KCAL and per-unit thresholds
    # off the 2-decimal grid, so the pipeline's rounding changes values
    assert any(r["amount"][-1] != "0" for r in fn)
    assert any(len(r["serving_size"].partition(".")[2]) == 3 for r in branded)
    pairs: dict = {}
    for r in fn:
        pairs.setdefault((r["fdc_id"], r["nutrient_id"]), []).append(Decimal(r["amount"]))
    means = [sum(v) / len(v) for v in pairs.values() if len(v) > 1]
    assert any(m * 100 % 1 not in (0, Decimal("0.5")) for m in means)
    assert any(m * 100 % 1 == Decimal("0.5") for m in means)  # 2-decimal ties


def test_twin_rounds_like_spark_bround():
    # half-even on the shortest decimal form, not on the binary value
    assert checks.bround2(1.015) == 1.02  # the binary value 1.01499... rounds to 1.01
    assert checks.bround2(1.025) == 1.02
    assert checks.bround2(2.675) == 2.68
    assert checks.bround2(12.3455) == 12.35


def test_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 40)]  # 39 samples: p75 is the 30th, 9 beyond
    assert percentile(xs, 75) is None
    xs.append(40.0)  # 40 samples: 10 beyond the 30th
    assert percentile(xs, 75) == 30.0
    assert percentile(xs, 50, min_beyond=0) == 20.0
    assert percentile([], 75) is None


def test_fail_ratio_counts_raising_calls_and_wrong_results():
    log = OpLog()

    def boom():
        raise ValueError("no")

    k0, out = log.call(lambda: 1)
    k1, _ = log.call(boom)
    k2, _ = log.call(lambda: 2)
    k3, _ = log.call(lambda: 3)
    assert out == 1 and log.failed == 1
    log.check(k2, False, "wrong result")
    log.check(k3, True, "right result")
    log.check(k1, False, "already failed: counted once")
    assert (log.attempted, log.failed) == (4, 2)
    assert log.fail_ratio == 0.5
    assert log.ok(k0) and not log.ok(k1) and not log.ok(k2) and log.ok(k3)


def test_value_hash_ignores_row_and_column_order():
    a = checks.value_hash(["x", "y"], [(1, "a"), (2, None)])
    b = checks.value_hash(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert checks.value_hash(["x", "y"], [(1, "a"), (2, "b")]) != a
    assert checks.value_hash(["x", "y"], [(1.0, "a"), (2, None)]) != a  # types count


def test_topk_breaks_score_ties_by_id_and_skips_zero_vectors():
    ids = np.array([5, 3, 9, 1])
    vecs = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 0.0], [0.0, 1.0]])
    got = checks.topk(ids, vecs, np.array([1.0, 0.0]), k=3)
    assert got == [(3, 1.0), (5, 1.0), (1, 0.0)]
    assert checks.topk(ids, vecs, np.zeros(2), k=3) == []


def test_embed_is_the_normalised_md5_bucket_count():
    v = checks.embed("  Sweet  sweet\tALMONDS ", dim=64)
    assert np.isclose(np.linalg.norm(v), 1.0)
    assert sorted(np.round(v[v > 0] ** 2 * 5, 9).tolist()) == [1.0, 4.0]
    assert not checks.embed(" \t ", dim=64).any()
