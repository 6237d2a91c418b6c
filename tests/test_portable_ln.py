"""Bit-equality of the portable ln/exp: the Python evaluator
(functions/portable_ln — what builds every Spark literal table) must
produce the SAME binary64 values as the SQL chain (what every oracle
twin runs), on adversarial integer ratios.

This is the load-bearing property behind the r07 verdict #1 fix: the
comparison no longer pits two libms against each other — both sides
evaluate a fixed-form expression of correctly-rounded IEEE ops, so a
DuckDB build change (the exact thing that flipped lm_doc_scores /
dsir_select on the driver twice) cannot move either side.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

import duckdb
import pandas as pd
import pytest

from usda_food_data_pipeline_spark.functions import portable_ln as pln


def _adversarial_pairs() -> list[tuple[int, int]]:
    rng = random.Random(7)
    pairs = []
    for _ in range(8000):
        num = rng.randint(1, 10 ** rng.randint(0, 12))
        den = rng.randint(1, 10 ** rng.randint(0, 12))
        pairs.append((num, den))
    for e in range(55):
        pairs += [
            (1 << e, 1),
            (1, 1 << e),
            ((1 << e) + 1, 1 << e),
            (3**e % 10**15 + 1, 7**e % 10**13 + 1),
        ]
    return pairs


def test_ln_ratio_nanos_bit_identical_python_vs_duckdb():
    pairs = _adversarial_pairs()
    con = duckdb.connect()
    con.register("tin", pd.DataFrame(pairs, columns=["num", "den"]))
    inner = pln.sql_ln_select(
        "tin",
        ["num", "den"],
        {"a": "num", "b": "den"},
        [("nanos", pln.sql_grid_nanos("(_ln_a - _ln_b)"))],
    )
    rows = con.execute(f"WITH {pln.POWS_CTE} {inner}").fetchall()
    assert len(rows) == len(pairs)
    bad = [
        (num, den, got, exp)
        for num, den, got in rows
        if got != (exp := pln.py_grid_nanos(
            pln.py_ln_combine([("+", num), ("-", den)])
        ))
    ]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_ln_four_term_combine_bit_identical():
    """The DSIR combine shape: ((ln a + ln b) - ln c) - ln d."""
    rng = random.Random(11)
    quads = [
        tuple(rng.randint(1, 10 ** rng.randint(0, 9)) for _ in range(4))
        for _ in range(3000)
    ]
    con = duckdb.connect()
    con.register("tin", pd.DataFrame(quads, columns=["a", "b", "c", "d"]))
    inner = pln.sql_ln_select(
        "tin",
        ["a", "b", "c", "d"],
        {"a": "a", "b": "b", "c": "c", "d": "d"},
        [("nanos", pln.sql_grid_nanos("(((_ln_a + _ln_b) - _ln_c) - _ln_d)"))],
    )
    rows = con.execute(f"WITH {pln.POWS_CTE} {inner}").fetchall()
    bad = [
        r
        for r in rows
        if r[4] != pln.py_grid_nanos(
            pln.py_ln_combine([("+", r[0]), ("+", r[1]), ("-", r[2]), ("-", r[3])])
        )
    ]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_ln_accuracy_vs_true_log():
    rng = random.Random(3)
    worst = 0.0
    for _ in range(3000):
        n = rng.randint(1, 10**14)
        worst = max(worst, abs(pln.py_ln_int(n) - math.log(n)))
    assert worst < 5e-12, worst


def test_exp_bit_identical_and_accurate():
    rng = random.Random(5)
    vals = [rng.uniform(-20.0, 20.0) for _ in range(4000)] + [
        0.0, pln.LN2, -pln.LN2, 0.5 * pln.LN2, 3.999, -15.25,
    ]
    con = duckdb.connect()
    con.register("tin", pd.DataFrame({"i": range(len(vals)), "v": vals}))
    inner = pln.sql_exp_select("tin", ["i", "v"], "v", "ev")
    rows = con.execute(f"WITH {pln.POWS_CTE} {inner} ORDER BY i").fetchall()
    worst = 0.0
    for _, v, ev in rows:
        assert ev == pln.py_exp(v), (v, ev, pln.py_exp(v))
        worst = max(worst, abs(ev - math.exp(v)) / math.exp(v))
    assert worst < 1e-13, worst


def test_grid_decimal_matches_python_decimal():
    con = duckdb.connect()
    for nanos in (0, 1, -1, 123456789, -98765432101, 4 * 10**10):
        got = con.execute(
            f"SELECT {pln.sql_grid_decimal(nanos)}"
        ).fetchone()[0]
        assert got == Decimal(nanos).scaleb(-9)
        assert isinstance(got, Decimal)


def test_grid_nanos_half_up_semantics():
    # exact .5 grid hits snap up (toward +inf) on both sides
    assert pln.py_grid_nanos(1.5, 0) == 2
    assert pln.py_grid_nanos(-1.5, 0) == -1
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {pln.sql_grid_nanos('1.5', 0)}, {pln.sql_grid_nanos('-1.5', 0)}"
    ).fetchone()
    assert got == (2, -1)


def test_ln_int_rejects_nonpositive():
    with pytest.raises(ValueError):
        pln.py_ln_int(0)
    with pytest.raises(ValueError):
        pln.py_ln_combine([("-", 3)])


def test_literal_table_ceiling():
    class _FakeSpark:
        def createDataFrame(self, rows, schema):  # pragma: no cover
            return (rows, schema)

    with pytest.raises(ValueError):
        pln.literal_table(
            _FakeSpark(), [(i,) for i in range(pln.MAX_LITERAL_ROWS + 1)], "n bigint"
        )


def test_token_entropy_hand_values(spark):
    """H = ln n - (sum c*ln c)/n on the nano grid, hand-recomputed with
    the same portable chain + integer division."""
    from usda_food_data_pipeline_spark.functions.textstats import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token repeated: H = 0
            (2, "a b c d"),          # uniform over 4: H = ln 4
            (3, "a a b"),            # 2/3, 1/3 mix
            (4, ""),                 # zero tokens: excluded
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["entropy_nanos"])
           for r in token_entropy(df, "doc_id", "text").collect()}
    n = lambda x: pln.py_grid_nanos(pln.py_ln_int(x))  # noqa: E731
    assert set(got) == {1, 2, 3}
    # doc 1: c=4 for 'a'; H = n(4) - (4*n(4)) DIV 4 = 0
    assert got[1] == (4, 0)
    # doc 2: four tokens with c=1; ln 1 = 0 => H = n(4)
    assert got[2] == (4, n(4))
    # doc 3: c_a=2, c_b=1; H = n(3) - (2*n(2) + 1*0) DIV 3
    assert got[3] == (3, n(3) - (2 * n(2)) // 3)
