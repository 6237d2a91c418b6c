"""Unit tests for the round-6 operators: CDC merge, sessionization,
gap-fill, interval overlap join, expectations, PageRank, salted join."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# CDC merge
# ---------------------------------------------------------------------------


def test_merge_apply_upsert_delete_insert(spark):
    from usda_food_data_pipeline_spark.operators.merge import merge_apply

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, "U", "b2", 21.0, 1),   # update key 2 (older)
            (2, "U", "b3", 22.0, 2),   # update key 2 (latest wins)
            (3, "D", None, None, 1),   # delete key 3
            (4, "U", "d", 40.0, 1),    # insert brand-new key 4
        ],
        "k int, op string, name string, v double, seq int",
    )
    out = merge_apply(base, changes, keys=["k"], seq_cols=["seq"])
    rows = {r["k"]: (r["name"], r["v"]) for r in out.collect()}
    assert rows == {1: ("a", 10.0), 2: ("b3", 22.0), 4: ("d", 40.0)}


def test_merge_apply_delete_then_reinsert_latest_wins(spark):
    from usda_food_data_pipeline_spark.operators.merge import merge_apply

    base = spark.createDataFrame([(1, 1.0)], "k int, v double")
    changes = spark.createDataFrame(
        [(1, "D", None, 1), (1, "U", 9.0, 2)], "k int, op string, v double, seq int"
    )
    out = merge_apply(base, changes, keys=["k"], seq_cols=["seq"])
    assert [(r["k"], r["v"]) for r in out.collect()] == [(1, 9.0)]


# ---------------------------------------------------------------------------
# Sessionization / gap-fill / interval overlap
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_sessionize_gap_boundary(spark):
    from usda_food_data_pipeline_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, 1.0),
        # exactly the gap: NOT a new session (strict > comparison)
        (2, t0 + dt.timedelta(seconds=1800), 7, 2.0),
        # one microsecond over the gap: new session
        (3, t0 + dt.timedelta(seconds=3600, microseconds=1), 7, 4.0),
    ]
    out = sessionize(_ev(spark, rows), gap_seconds=1800).orderBy("session_seq")
    got = [(r["session_seq"], r["n_events"], r["sum_value"]) for r in out.collect()]
    assert got == [(1, 2, 3.0), (2, 1, 4.0)]


def test_gap_fill_daily_zero_fill_and_ffill(spark):
    from usda_food_data_pipeline_spark.operators.sessionize import gap_fill_daily

    rows = [
        (1, dt.datetime(2024, 1, 1, 9), 7, 10.0),
        (2, dt.datetime(2024, 1, 1, 10), 7, 20.0),
        # Jan 2-3 silent
        (3, dt.datetime(2024, 1, 4, 9), 7, 40.0),
    ]
    out = gap_fill_daily(_ev(spark, rows)).orderBy("day").collect()
    assert [r["day"].day for r in out] == [1, 2, 3, 4]
    assert [r["n_events"] for r in out] == [2, 0, 0, 1]
    assert [r["ffill_avg_value"] for r in out] == [15.0, 15.0, 15.0, 40.0]


@pytest.mark.slow
def test_interval_overlap_matches_naive_theta_join(spark):
    """Bucketed blocking must emit exactly the naive inequality-join pairs,
    including intervals spanning many buckets and bucket-edge endpoints."""
    from usda_food_data_pipeline_spark.operators.sessionize import (
        interval_overlap_join,
    )

    def iv(name, s, e):
        return (name, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=s),
                dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e))

    left = spark.createDataFrame(
        [iv("L1", 0, 30), iv("L2", 55, 65), iv("L3", 0, 600), iv("L4", 120, 180)],
        "lname string, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [iv("R1", 25, 35), iv("R2", 60, 120), iv("R3", 599, 601), iv("R4", 180, 240)],
        "rname string, rs timestamp, re timestamp",
    )
    got = {
        (r["lname"], r["rname"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=3600
        ).collect()
    }
    naive = {
        (r["lname"], r["rname"])
        for r in left.crossJoin(right)
        .filter((F.col("ls") < F.col("re")) & (F.col("rs") < F.col("le")))
        .collect()
    }
    assert got == naive
    # half-open: L4 [120,180) does not overlap R4 [180,240)
    assert ("L4", "R4") not in got
    # multi-bucket interval L3 pairs with everything it spans, exactly once
    assert ("L3", "R3") in got


# ---------------------------------------------------------------------------
# Expectations
# ---------------------------------------------------------------------------


def test_expectation_suite_counts_failures(spark):
    from usda_food_data_pipeline_spark.operators.expectations import (
        expectation_suite,
        in_range,
        in_set,
        not_null,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "c", 50.0), (3, "z", None)],
        "id int, cat string, x double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid int")
    out = expectation_suite(
        df,
        row_checks=[not_null("cat"), in_set("cat", ["a", "c"]), in_range("x", 0, 10)],
        unique_keys=[["id"]],
        refs=[("id", parent, "pid")],
    )
    res = {r["check_name"]: (r["n_rows"], r["n_failed"], r["ok"]) for r in out.collect()}
    assert res["not_null:cat"] == (4, 1, False)
    assert res["in_set:cat"] == (4, 2, False)          # None fails too (3VL)
    assert res["in_range:x"] == (4, 3, False)          # -1.0, 50.0, NULL fail
    assert res["unique:id"] == (4, 2, False)           # both id=2 rows flagged
    assert res["ref:id->pid"] == (4, 1, False)         # id=3 orphan


def test_interval_overlap_preserves_duplicate_row_multiplicity(spark):
    """ADVICE r03: fully duplicate input intervals must yield duplicate
    output pairs (theta-join multiplicity) — the old whole-row distinct
    collapsed them."""
    import datetime as dt

    from usda_food_data_pipeline_spark.operators.sessionize import (
        interval_overlap_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("x", t0, t0 + dt.timedelta(hours=5))] * 2,  # identical rows
        "lname string, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [("y", t0 + dt.timedelta(hours=1), t0 + dt.timedelta(hours=2))],
        "rname string, rs timestamp, re timestamp",
    )
    out = interval_overlap_join(left, right, "ls", "le", "rs", "re",
                                bucket_seconds=3600).collect()
    assert len(out) == 2  # one pair per duplicate left row


def test_ref_integrity_null_fk_policy(spark):
    """ADVICE r03: NULL child keys are unverifiable, NOT ref failures
    (they belong to not_null), and a NULL key in the PARENT must not
    degenerate the check (the NOT IN failure mode)."""
    from usda_food_data_pipeline_spark.operators.expectations import (
        check_ref_integrity,
    )

    child = spark.createDataFrame(
        [(1,), (None,), (7,)], "fk int"
    )
    parent = spark.createDataFrame([(1,), (None,)], "pk int")
    r = check_ref_integrity(child, "fk", parent, "pk").collect()[0]
    # 7 is the only failure: NULL child exempt; NULL parent key ignored
    assert (r["n_rows"], r["n_failed"], r["ok"]) == (3, 1, False)


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def test_pagerank_mass_conserved_and_hub_ranks_highest(spark):
    from usda_food_data_pipeline_spark.operators.graph import (
        pagerank,
        symmetric_edges,
    )

    # star: hub 0 connected to 1..5 — hub must dominate; total mass ~ 1
    pairs = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    ranks = pagerank(symmetric_edges(pairs), iters=10).collect()
    total = sum(r["rank"] for r in ranks)
    assert math.isclose(total, 1.0, rel_tol=1e-9)
    by_node = {r["node"]: r["rank"] for r in ranks}
    assert by_node[0] == max(by_node.values())
    leaf = [v for k, v in by_node.items() if k != 0]
    assert all(math.isclose(v, leaf[0], rel_tol=1e-12) for v in leaf)


def test_pagerank_matches_python_power_iteration_exactly(spark):
    from usda_food_data_pipeline_spark.operators.graph import MASS_GRID, pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 1), (1, 0), (0, 2), (3, 0), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()}

    # reference replicates the engine's dyadic mass quantization, so the
    # comparison is EXACT (bit-for-bit), not approximate
    n = 4
    out = {u: [e[1] for e in edges if e[0] == u] for u in range(n)}
    r = [1.0 / n] * n
    for _ in range(5):
        mass = [0] * n
        for u in range(n):
            q = math.floor((r[u] / len(out[u])) * MASS_GRID)
            for v in out[u]:
                mass[v] += q
        r = [(1.0 - 0.85) / n + 0.85 * (mass[v] / MASS_GRID) for v in range(n)]
    for u in range(n):
        assert got[u] == r[u]


# ---------------------------------------------------------------------------
# Salted join
# ---------------------------------------------------------------------------


def test_replicate_broadcast_join_equals_plain_join(spark):
    from usda_food_data_pipeline_spark.operators.skew import (
        replicate_broadcast_join,
    )

    big = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(1000)], "k int, v double"
    )
    small = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k int, tag string")
    salted = replicate_broadcast_join(big, small, key="k", n_salts=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 1000
    a = salted.groupBy("k", "tag").agg(F.sum("v").alias("s")).collect()
    b = plain.groupBy("k", "tag").agg(F.sum("v").alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# BPE training loop
# ---------------------------------------------------------------------------


def _py_bpe(texts, n_merges, min_count):
    """Pure-Python reference trainer with identical tokenize/tie-break."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            if w:
                wf[w] += 1
    syms = {w: list(w) for w in wf}
    rules = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for w, c in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (l, r), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        if n < min_count:
            break
        rules.append((step, l, r, l + r, n))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms[w] = out
    return rules


def test_bpe_train_matches_python_reference(spark, sf_dir):
    from usda_food_data_pipeline_spark.functions.bpe import bpe_train
    from usda_food_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    got = bpe_train(docs, "text", n_merges=5, min_count=2)
    want = _py_bpe(texts, n_merges=5, min_count=2)
    assert got == want
    assert len(got) == 5


def test_bpe_encode_applies_merges_greedily(spark):
    from bpe_reference import bpe_encode

    from usda_food_data_pipeline_spark.functions.bpe import bpe_train

    df = spark.createDataFrame(
        [("the thermal theory there",), ("the other theme thе",)], "text string"
    )
    rules = bpe_train(df, "text", n_merges=3, min_count=1)
    out = df.select(bpe_encode(F.col("text"), rules).alias("toks")).collect()
    # every learned merged symbol must be fused wherever it occurs
    merged = {r[3] for r in rules}
    for row in out:
        toks = row["toks"]
        for m in merged:
            for a, b in [(m[:i], m[i:]) for i in range(1, len(m))]:
                for t1, t2 in zip(toks, toks[1:]):
                    assert not (t1 == a and t2 == b and a + b == m)
    # characters are preserved: concatenating symbols rebuilds the words
    joined = "".join(out[0]["toks"])
    assert joined == "thethermaltheorythere"


def test_bpe_merge_pair_overlapping_run(spark):
    from usda_food_data_pipeline_spark.functions.bpe import merge_pair

    df = spark.createDataFrame([(["a", "a", "a"],)], "s array<string>")
    out = df.select(merge_pair(F.col("s"), "a", "a").alias("m")).collect()[0]["m"]
    assert out == ["aa", "a"]  # greedy left-to-right, non-overlapping


# ---------------------------------------------------------------------------
# Rolling anomaly
# ---------------------------------------------------------------------------


def test_rolling_anomaly_spike_detection_and_guards(spark):
    from usda_food_data_pipeline_spark.operators.sessionize import (
        rolling_hourly_anomaly,
    )

    rows = []
    eid = 0
    # type 'a': 2 events/hour for hours 0..9, then a 40-event spike at hour 10
    for h in range(10):
        for _ in range(2):
            rows.append((eid, dt.datetime(2024, 1, 1, h), 1, "a", 0.0)); eid += 1
    for _ in range(40):
        rows.append((eid, dt.datetime(2024, 1, 1, 10), 1, "a", 0.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["hr"]: r for r in rolling_hourly_anomaly(df, trailing_hours=24).collect()}
    hrs = sorted(out)
    first, spike = out[hrs[0]], out[hrs[-1]]
    # empty trailing window → no mean, no z
    assert first["trailing_mean"] is None and first["z_score"] is None
    # second hour: 1-point window → mean but no variance → no z
    assert out[hrs[1]]["trailing_mean"] == 2.0 and out[hrs[1]]["z_score"] is None
    # constant-rate trailing window before the spike has zero variance → no z
    # for the spike either?  No: var==0 → z None; build variance by checking
    # the spike against a window that includes ONE varying hour instead
    assert spike["n_events"] == 40 and spike["trailing_mean"] == 2.0
    assert spike["z_score"] is None  # zero-variance trailing window → undefined z


def test_rolling_anomaly_z_score_value(spark):
    import statistics

    from usda_food_data_pipeline_spark.operators.sessionize import (
        rolling_hourly_anomaly,
    )

    counts = [2, 4, 3, 5, 20]
    rows, eid = [], 0
    for h, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, dt.datetime(2024, 1, 1, h), 1, "a", 0.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["hr"]: r for r in rolling_hourly_anomaly(df, trailing_hours=24).collect()}
    last = out[sorted(out)[-1]]
    trail = counts[:-1]
    want = (counts[-1] - statistics.mean(trail)) / statistics.stdev(trail)
    assert abs(last["z_score"] - want) < 1e-9


# ---------------------------------------------------------------------------
# Fuzzy join (record linkage)
# ---------------------------------------------------------------------------


def test_fuzzy_self_join_matches_naive_including_indels(spark):
    from usda_food_data_pipeline_spark.operators.fuzzy import fuzzy_self_join

    words = [
        "kitten", "sitten", "mitten",      # substitutions
        "kitte", "kittens",                # deletion / insertion vs kitten
        "xkitten",                          # boundary-shifting front insertion
        "banana", "bananna",               # insertion mid-word
        "apple", "aple", "appl", "apples",
        "zebra",                            # isolated
    ]
    df = spark.createDataFrame(list(enumerate(words)), "id int, w string")
    got = {(r["id_a"], r["id_b"]) for r in fuzzy_self_join(df, "id", "w").collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i, j)
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if lev(words[i], words[j]) <= 1
    }
    assert got == want
    assert (0, 5) in got  # 'xkitten': front insertion found despite shift


def test_fuzzy_join_dist_zero_pairs_found(spark):
    from usda_food_data_pipeline_spark.operators.fuzzy import fuzzy_self_join

    df = spark.createDataFrame([(1, "same"), (2, "same")], "id int, w string")
    rows = fuzzy_self_join(df, "id", "w").collect()
    assert len(rows) == 1 and rows[0]["dist"] == 0


# ---------------------------------------------------------------------------
# Triangle count
# ---------------------------------------------------------------------------


def test_triangle_count_known_graphs(spark):
    from usda_food_data_pipeline_spark.operators.graph import triangle_count

    # K4: 4 triangles; plus a pendant edge (no new triangle)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 9)]
    df = spark.createDataFrame(k4, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)

    # triangle whose closing edge is rank-oriented AGAINST id order:
    # deg(20)=deg(10)=deg(5)=2 in a plain triangle -> rank ties break by
    # id; add an extra edge so node 5 outranks node 10 by degree
    tri = [(5, 10), (5, 20), (10, 20), (5, 99)]
    df2 = spark.createDataFrame(tri, "src long, dst long")
    assert triangle_count(df2).collect()[0]["n_triangles"] == 1


def test_triangle_count_random_matches_naive(spark):
    import itertools
    import random

    from usda_food_data_pipeline_spark.operators.graph import triangle_count

    rng = random.Random(7)
    nodes = list(range(12))
    pairs = [
        (a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.35
    ]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = triangle_count(df).collect()[0]["n_triangles"]
    es = set(pairs)
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    assert got == want


def test_triangle_count_empty_and_edgeless(spark):
    from usda_food_data_pipeline_spark.operators.graph import triangle_count

    empty = spark.createDataFrame([], "src long, dst long")
    row = triangle_count(empty).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (0, 0, 0)


def test_fuzzy_join_empty_string_and_null_semantics(spark):
    from usda_food_data_pipeline_spark.operators.fuzzy import fuzzy_self_join

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, ""), (4, None)], "id int, w string"
    )
    got = {(r["id_a"], r["id_b"], r["dist"]) for r in fuzzy_self_join(df, "id", "w").collect()}
    # "" vs "" dist 0; "" vs "a" dist 1 (both directions of the block);
    # NULL text rows drop out (explode of null variant array)
    assert got == {(1, 3, 0), (1, 2, 1), (2, 3, 1)}


# ---------------------------------------------------------------------------
# Time-weighted average
# ---------------------------------------------------------------------------


def test_time_weighted_avg_hand_computed(spark):
    from usda_food_data_pipeline_spark.operators.sessionize import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # value 10 held 60s, value 20 held 30s, value 99 held 0 (last)
        (1, t0, 7, 10.0),
        (2, t0 + dt.timedelta(seconds=60), 7, 20.0),
        (3, t0 + dt.timedelta(seconds=90), 7, 99.0),
        # single-event user: no holding interval -> twap NULL, weight 0
        (4, t0, 8, 55.0),
    ]
    out = {r["user_id"]: r for r in time_weighted_avg(_ev(spark, rows)).collect()}
    u7 = out[7]
    assert u7["n_obs"] == 3 and u7["total_us"] == 90_000_000
    assert abs(u7["twap"] - (10.0 * 60 + 20.0 * 30) / 90) < 1e-12
    u8 = out[8]
    assert u8["twap"] is None and u8["total_us"] == 0 and u8["n_obs"] == 1
