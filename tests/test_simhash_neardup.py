"""simhash_neardup_pairs: pigeonhole-banding completeness vs brute
force, parameter guards, and the replica-cluster shape on testdata;
simhash_fingerprints: fingerprint width."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.operators.dedup import (
    simhash_fingerprints,
    simhash_from_hashes,
    simhash_neardup_pairs,
    simhash_token_hashes,
    tokenize,
)

SF = "/root/testdata/sf0.001"


def test_matches_brute_force(spark):
    """Banding is COMPLETE for hamming <= max_hamming < bands (the
    pigeonhole theorem) — the operator must equal the all-pairs answer
    exactly, including the hamming values."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(250)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, "doc_id", "text").collect()
    }
    fp = docs.select(
        F.col("doc_id"),
        simhash_token_hashes(tokenize(F.col("text")), 48).alias("_sh"),
    ).select("doc_id", simhash_from_hashes(F.col("_sh"), 48).alias("fp"))
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .collect()
    }
    assert got == brute
    assert brute, "fixture has no near-dup pairs at 250 docs?"


def test_parameter_guards(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(df, "doc_id", "text", bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divisible"):
        simhash_neardup_pairs(df, "doc_id", "text", bits=50, bands=4)
    with pytest.raises(ValueError, match="multiple of 4"):
        simhash_token_hashes(F.col("text"), 18)


def test_fingerprint_width_follows_bits(spark):
    """Token hashes are as wide as the fingerprint: at 32 bits some
    document sets a bit at or above 16."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    fps = [r["simhash"] for r in simhash_fingerprints(docs, "doc_id", "text", 32).collect()]
    assert all(0 <= f < 1 << 32 for f in fps)
    assert any(f >> 16 for f in fps)
