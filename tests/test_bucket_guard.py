"""Oversized-bucket guard (operators/dedup.cap_bucket_size).

r03 verdict item 4: every pair-generating dedup path emits O(k²)
candidates from a k-row bucket; one hot bucket turns the job quadratic
(sf1 smoke: 26×/19× time at 10× data). The guard drops over-cap buckets
BEFORE the self-join and reports drops through a pyspark Observation.
These tests pin: (a) pairs from small buckets are untouched, (b) hot
buckets generate no pairs, (c) the counters are exact, (d) for
semantic_dedup the guard never removes rows from the survivor BASE —
only from pair generation.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Observation
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.operators.dedup import GuardStats, cap_bucket_size
from usda_food_data_pipeline_spark.operators.similarity import (
    embedding_neardup_pairs,
    semantic_dedup,
)


def test_cap_bucket_size_counters(spark):
    # bucket "hot": 5 rows, bucket "a": 2 rows, bucket "b": 1 row
    df = spark.createDataFrame(
        [("hot", i) for i in range(5)] + [("a", 10), ("a", 11), ("b", 20)],
        "k string, v int",
    )
    obs = Observation()
    out = cap_bucket_size(df, ["k"], max_rows=2, observation=obs)
    rows = {(r.k, r.v) for r in out.collect()}
    assert rows == {("a", 10), ("a", 11), ("b", 20)}
    m = obs.get
    assert m["guard_dropped_rows"] == 5
    assert m["guard_dropped_buckets"] == 1
    assert m["guard_max_bucket"] == 5


@pytest.mark.slow
def test_cap_bucket_size_keeps_null_key_bucket(spark):
    # NULL keys form a bucket of their own, kept when under cap and
    # dropped when over — matching the QUALIFY twin's NULL partition
    # (a plain equi-join rejoin would drop them unconditionally)
    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 10), ("a", 11), ("a", 12)],
        "k string, v int",
    )
    out = cap_bucket_size(df, ["k"], max_rows=2)
    assert {(r.k, r.v) for r in out.collect()} == {(None, 1), (None, 2)}
    out2 = cap_bucket_size(df, ["k"], max_rows=1)
    assert out2.count() == 0


def test_guard_stats_readable_under_aqe(spark):
    # Observation.get crashes on AQE-planned queries in Spark 4.1.2
    # (PythonSQLUtils.toPyRow assertion); GuardStats reads the counters
    # through a separate aggregate action on the keys-only occupancy
    # projection, which is AQE-proof. Size the input past the trivial
    # range so AQE genuinely re-plans (shuffle coalescing kicks in).
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        df = spark.range(20_000).select(
            (F.col("id") % 64).cast("string").alias("k"), F.col("id").alias("v")
        )
        # 64 buckets x ~312 rows; cap at 300 → buckets with 313 rows
        # (id%64 < 16 have 313) exceed; exact: 20000 = 64*312 + 32 →
        # buckets 0..31 have 313 rows, 32..63 have 312
        stats = GuardStats()
        out = cap_bucket_size(df, ["k"], max_rows=312, observation=stats)
        assert out.count() == 32 * 312
        m = stats.get
        assert m["guard_dropped_buckets"] == 32
        assert m["guard_dropped_rows"] == 32 * 313
        assert m["guard_max_bucket"] == 313
        # readable repeatedly, and even before any action on `out`
        stats2 = GuardStats()
        cap_bucket_size(df, ["k"], max_rows=1000, observation=stats2)
        m2 = stats2.get
        assert m2["guard_dropped_buckets"] == 0
        assert m2["guard_max_bucket"] == 313
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _docs(spark, hot_n: int, cold_texts: list[str]):
    hot = [(i, "the same boilerplate template text repeated here") for i in range(hot_n)]
    cold = [(1000 + i, t) for i, t in enumerate(cold_texts)]
    return spark.createDataFrame(hot + cold, "doc_id bigint, text string")


def test_neardup_guard(spark):
    # 6 identical vectors fill one sign-bit bucket past the cap of 4;
    # the 2 in the opposite-sign bucket stay under it
    rows = [(i, [1.0] * 8) for i in range(6)] + [
        (100, [-1.0] * 8),
        (101, [-1.0] * 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    obs = Observation()
    pairs = embedding_neardup_pairs(
        emb, threshold=0.9, bucket_bits=8, max_block=4, observation=obs
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101)}
    assert obs.get["guard_dropped_rows"] == 6


def test_semantic_dedup_guard_preserves_survivor_base(spark):
    # 6 identical vectors share a sign-bit bucket; with the guard engaged
    # they generate NO pairs, so ALL of them survive (base untouched)
    rows = [(i, [1.0] * 8) for i in range(6)] + [
        (100, [-1.0] * 8),
        (101, [-1.0] * 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    obs = Observation()
    out = semantic_dedup(
        emb, threshold=0.9, bucket_bits=8, max_bucket=4, observation=obs
    ).collect()
    survivors = {r.vec_id for r in out}
    # cold bucket deduped to lowest id; hot bucket fully retained
    assert survivors == {0, 1, 2, 3, 4, 5, 100}
    assert obs.get["guard_dropped_rows"] == 6


def test_minhash_guard_counters(spark):
    from usda_food_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(
        spark,
        hot_n=8,
        cold_texts=[
            "one two three four five six seven eight nine",
            "one two three four five six seven eight ten",
        ],
    )
    obs = Observation()
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3,
        jaccard_threshold=0.5, max_bucket=4, observation=obs,
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1000, 1001)}
    m = obs.get
    # 8 identical docs × 4 bands → 4 hot buckets of 8 rows each dropped
    assert m["guard_dropped_buckets"] == 4
    assert m["guard_dropped_rows"] == 32
