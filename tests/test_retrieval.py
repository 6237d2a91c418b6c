"""Unit + plan tests for the lexical/hybrid retrieval operators
(functions/retrieval, operators/similarity sign-bit sketch)."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.functions.retrieval import (
    bm25_scores,
    bm25_topk,
    rrf_fuse,
    tfidf_keywords,
)
from usda_food_data_pipeline_spark.operators.similarity import (
    hamming_topk,
    sign_bitpack,
)


def test_sign_bitpack_known_bits(spark):
    # 64-dim vector: positives exactly at indices 0, 1, 33, 63
    vec = [0.0] * 64
    for i in (0, 1, 33, 63):
        vec[i] = 0.5
    vec[2] = -1.0  # negative stays a 0-bit
    df = spark.createDataFrame([(vec,)], "embedding: array<float>")
    w0, w1 = sign_bitpack("embedding", 64)
    row = df.select(w0.alias("w0"), w1.alias("w1")).first()
    # fold is MSB-first over each 32-slice: index 0 is the highest bit of w0
    assert row["w0"] == (1 << 31) | (1 << 30)
    assert row["w1"] == (1 << 30) | 1  # index 33 -> bit 30 of word 1, 63 -> bit 0


def test_hamming_topk_self_is_zero_and_order(spark):
    vecs = [
        (0, [1.0] * 64),
        (1, [1.0] * 63 + [-1.0]),  # 1 bit away
        (2, [-1.0] * 32 + [1.0] * 32),  # 32 bits away
    ]
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    out = hamming_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    assert [(r["vec_id"], r["hamming"]) for r in out] == [(0, 0), (1, 1), (2, 32)]


def test_bm25_ranks_rarer_and_denser_matches_higher(spark):
    rows = [
        (0, "apple banana cherry durian elderberry fig"),
        (1, "apple apple apple banana banana cherry"),  # denser in query terms
        (2, "kiwi lime mango nectarine orange papaya"),  # no match
        (3, "apple kiwi lime mango nectarine orange"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    scores = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, "doc_id", "text", ["apple", "banana"]).collect()
    }
    assert 2 not in scores  # unmatched docs never appear
    assert scores[1] > scores[0] > scores[3] > 0
    top = bm25_topk(df, "doc_id", "text", ["apple", "banana"], k=2).collect()
    assert [r["doc_id"] for r in top] == [1, 0]


def test_bm25_score_matches_hand_formula(spark):
    # one doc, one term, all corpus stats trivial: N=1, df=1, dl=avgdl=4
    df = spark.createDataFrame([(0, "a b c a")], "doc_id: long, text: string")
    row = bm25_scores(df, "doc_id", "text", ["a"]).first()
    idf = math.log(1.0 + (1.0 - 1.0 + 0.5) / (1.0 + 0.5))
    sat = (2 * 2.2) / (2 + 1.2 * (1.0 - 0.75 + 0.75 * 4.0 / 4.0))
    assert abs(row["bm25"] - round(idf * sat, 9)) < 1e-12
    assert row["n_terms_matched"] == 1


def test_tfidf_rank_prefers_high_tf_then_rare(spark):
    rows = [
        (0, "common common rare common stop"),
        (1, "common stop stop other other"),
        (2, "common stop filler filler filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = tfidf_keywords(df, "doc_id", "text", k=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["token"], r["tf"], r["df"]))
    # doc 0: 'common' tf=3 wins; tie tf=1 between 'rare'(df=1) and 'stop'(df=3) -> rare
    assert sorted(by_doc[0])[0][1] == "common"
    assert sorted(by_doc[0])[1][1] == "rare"
    # every doc emits at most k rows with contiguous ranks
    for doc, rows_ in by_doc.items():
        ranks = sorted(r[0] for r in rows_)
        assert ranks == list(range(1, len(ranks) + 1)) and len(ranks) <= 2


def test_tfidf_idf_value(spark):
    df = spark.createDataFrame(
        [(0, "x y"), (1, "x z")], "doc_id: long, text: string"
    )
    out = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_keywords(df, "doc_id", "text", k=3).collect()
    }
    # x: tf=1, df=2, N=2 -> ln(3/3)=0; y/z: tf=1, df=1 -> ln(3/2)
    assert out[(0, "x")] == 0.0
    assert out[(0, "y")] == round(math.log(3.0 / 2.0), 4)


def test_rrf_fuse_missing_side_contributes_zero(spark):
    lex = spark.createDataFrame([(10, 1), (11, 2)], "doc_id: long, rank: int")
    vec = spark.createDataFrame([(11, 1), (12, 2)], "doc_id: long, rank: int")
    out = {r["doc_id"]: r for r in rrf_fuse(lex, vec, "doc_id", k=10).collect()}
    assert set(out) == {10, 11, 12}
    assert out[11]["rrf"] == round(1.0 / 62 + 1.0 / 61, 9)
    assert out[10]["rrf"] == round(1.0 / 61, 9)
    assert out[10]["rank_vector"] is None and out[12]["rank_lexical"] is None
    # both-lists candidate outranks single-list candidates
    assert out[11]["rrf"] > out[10]["rrf"]


# --- plan shape: the 100 TB properties ------------------------------------


def test_hamming_topk_no_shuffle(spark, sf_dir):
    from usda_food_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = hamming_topk(emb, emb.filter(F.col("vec_id") == 0), k=10)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan  # scan-local pack + heap


def test_bm25_corpus_text_never_shuffles(spark, sf_dir):
    from usda_food_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = bm25_topk(docs, "doc_id", "text", ["spark", "join", "dup"], k=10)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every hash exchange is keyed on doc/token aggregate rows — the
    # raw corpus text reaches only scans/projections, never a shuffle key
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)
        assert "doc_id#" in m.group(1) or "token#" in m.group(1)
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_semantic_dedup_keeps_lowest_id_per_group(spark):
    from usda_food_data_pipeline_spark.operators.similarity import semantic_dedup

    base = [1.0, -1.0] * 4  # 8-dim bucket pattern 10101010
    near = [0.9, -0.9] * 4  # same signs, cosine 1.0 with base
    other = [-1.0, 1.0] * 4  # different bucket entirely
    df = spark.createDataFrame(
        [(10, base), (11, near), (12, near), (20, other)],
        "vec_id: long, embedding: array<float>",
    )
    out = semantic_dedup(df, threshold=0.9, bucket_bits=8)
    kept = sorted(r["vec_id"] for r in out.collect())
    # 11 and 12 collapse onto 10 (lowest id of the bucket group); 20
    # sits alone in its bucket and survives
    assert kept == [10, 20]


def test_semantic_dedup_below_threshold_keeps_all(spark):
    from usda_food_data_pipeline_spark.operators.similarity import semantic_dedup

    # same bucket (same sign pattern) but nearly orthogonal beyond the
    # sign: dims 9.. diverge — cosine < 0.5 -> no drops at tau=0.95
    a = [1.0] * 8 + [10.0] + [0.0] * 55
    b = [1.0] * 8 + [0.0] * 54 + [10.0]
    df = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id: long, embedding: array<float>"
    )
    out = semantic_dedup(df, threshold=0.95, bucket_bits=8)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 2]


def test_jl_projection_onehot_reads_sign_column(spark):
    from usda_food_data_pipeline_spark.operators.similarity import (
        _jl_signs,
        jl_project,
    )

    # one-hot input: y_j = signs[j][i] / sqrt(out_dim) exactly
    dim, out = 64, 16
    vec = [0.0] * dim
    vec[5] = 1.0
    df = spark.createDataFrame([(1, vec)], "vec_id: long, embedding: array<float>")
    row = jl_project(df, out, dim).first()
    signs = _jl_signs(out, dim)
    for j in range(out):
        assert row[f"y{j}"] == signs[j][5] * 0.25


def test_jl_projection_roughly_preserves_distance(spark):
    import math
    import random

    from usda_food_data_pipeline_spark.operators.similarity import jl_project

    rnd = random.Random(3)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    ys = {
        r["vec_id"]: [r[f"y{j}"] for j in range(16)]
        for r in jl_project(df, 16, 64).collect()
    }
    xs = dict(vecs)
    ratios = []
    for a in range(0, 40, 7):
        for b in range(a + 1, 40, 7):
            dx = math.dist(xs[a], xs[b])
            dy = math.dist(ys[a], ys[b])
            ratios.append(dy / dx)
    mean = sum(ratios) / len(ratios)
    # JL with k=16: mean distortion concentrates near 1 (loose bound)
    assert 0.7 < mean < 1.3


@pytest.mark.slow
def test_vector_family_at_reference_dim_1024(spark):
    """r05 verdict task 6: the reference embedding spec is dim-1024 /
    cosine (multilingual-e5-large — upload_data_to_pinecone.py:26-27);
    the driver fixtures are dim 64. Attest the vector family at 1024 to
    catch expression-size / codegen cliffs (constant-pool and method-
    size limits) before production dims do: cosine_topk, sign_bitpack
    (32 words), hamming_topk, the int8 quantize round-trip, and
    jl_project 1024→32 (32k plan-time sign literals)."""
    import random

    import numpy as np

    from usda_food_data_pipeline_spark.operators.similarity import (
        _jl_signs,
        cosine_topk,
        jl_project,
        quantize_embeddings_df,
        sign_bitpack,
    )

    dim, n = 1024, 200
    rnd = random.Random(7)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    X = np.array([v for _, v in vecs], dtype=np.float32).astype(np.float64)

    # --- exact cosine top-k vs numpy ---
    qv = X[0]
    sims = (X @ qv) / (np.linalg.norm(X, axis=1) * np.linalg.norm(qv))
    want = [int(i) for i in np.argsort(-sims)[:10]]
    query = spark.createDataFrame([(vecs[0][1],)], "embedding: array<float>")
    got = [r.vec_id for r in cosine_topk(df, query, 10).collect()]
    assert got == want
    assert got[0] == 0  # the query itself ranks first

    # --- sign_bitpack: 32 words, known bits ---
    vec = [-1.0] * dim
    vec[0] = 1.0        # MSB of word 0
    vec[1023] = 1.0     # LSB of word 31
    one = spark.createDataFrame([(vec,)], "embedding: array<float>")
    words = sign_bitpack("embedding", dim)
    assert len(words) == 32
    row = one.select(*[w.alias(f"w{i}") for i, w in enumerate(words)]).first()
    assert row["w0"] == (1 << 31)
    assert row["w31"] == 1
    assert all(row[f"w{i}"] == 0 for i in range(1, 31))

    # --- hamming_topk at 1024: query in corpus ranks first at dist 0 ---
    top = hamming_topk(df, query, k=5, dim=dim).collect()
    assert top[0]["vec_id"] == 0 and top[0]["hamming"] == 0

    # --- int8 quantize round-trip error bound ---
    q = quantize_embeddings_df(df).collect()
    for r in q[:20]:
        orig = dict(vecs)[r["vec_id"]]
        scale = r["scale"]
        assert len(r["q"]) == dim
        for x, qi in zip(orig, r["q"]):
            assert abs(qi * scale - x) <= scale / 2 + 1e-9
            assert -127 <= qi <= 127

    # --- JL projection 1024→32 matches the sign-matrix formula ---
    small = df.limit(5)
    signs = _jl_signs(32, dim)
    rows = {r["vec_id"]: r for r in jl_project(small, 32, dim).collect()}
    inv = 1.0 / 32 ** 0.5
    for i, v in vecs[:5]:
        for j in range(32):
            expect = sum(a * b for a, b in zip(v, signs[j])) * inv
            assert abs(rows[i][f"y{j}"] - expect) < 1e-6


def test_semantic_decontaminate_matches_brute_force_single_bucket(spark):
    """With every vector's first 8 dims positive (one sign bucket) the
    blocking is lossless, so the screen must equal brute force: drop
    exactly the corpus vectors with cosine >= t to some benchmark
    vector."""
    import math
    import random

    from usda_food_data_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    rnd = random.Random(11)
    def vec():
        return [abs(rnd.gauss(0, 1)) + 0.01 for _ in range(8)] + [
            rnd.gauss(0, 1) for _ in range(8)
        ]
    corpus_rows = [(i, vec()) for i in range(40)]
    bench_rows = [(100 + i, vec()) for i in range(5)]
    # plant one unmistakable leak: corpus 0 == benchmark 100
    corpus_rows[0] = (0, bench_rows[0][1])

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    t = 0.3
    want = {
        i for i, v in corpus_rows
        if not any(cos(v, bv) >= t for _, bv in bench_rows)
    }
    corpus = spark.createDataFrame(corpus_rows, "vec_id: long, embedding: array<float>")
    bench = spark.createDataFrame(bench_rows, "vec_id: long, embedding: array<float>")
    got = {
        r.vec_id
        for r in semantic_decontaminate(corpus, bench, threshold=t).collect()
    }
    assert 0 not in got  # the planted leak is dropped
    assert got == want


def test_semantic_decontaminate_overcap_benchmark_bucket_both_engines(spark):
    """ADVICE r07 (medium): the benchmark side is NEVER capped — in the
    Spark operator since r07 AND in the oracle twin.  Force a benchmark
    sign-bucket over a tiny cap: the planted leak must still be flagged
    on BOTH engines (the old capped-benchmark oracle would drop the
    whole eval bucket and silently keep the leak), while the corpus cap
    still applies (an over-cap corpus bucket generates no pairs)."""
    import duckdb
    import pandas as pd

    from usda_food_data_pipeline_spark.operators.dedup import (
        cap_bucket_qualify_sql,
    )
    from usda_food_data_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from usda_food_data_pipeline_spark.registry_vector import _cos, _pack_sql

    cap = 4
    # all vectors share one sign bucket (first 8 dims positive); the
    # tail dims carry the signal
    def vec(tail: list[float]) -> list[float]:
        return [0.5] * 8 + tail

    leak_tail = [1.0] * 8
    corpus_rows = [
        (0, vec(leak_tail)),
        (1, vec([30.0, -30.0] * 4)),  # tail ⟂ leak tail → low cosine
        (2, vec([-25.0, 25.0] * 4)),
    ]
    bench_rows = [
        (100 + i, vec([1.0 + 0.001 * i] * 8)) for i in range(cap + 2)
    ]
    # corpus 0 ≈ every benchmark vector (cosine ~1) → flagged; corpus
    # 1/2 point away in the tail dims → survive at t=0.9
    t = 0.9

    corpus = spark.createDataFrame(corpus_rows, "vec_id: long, embedding: array<float>")
    bench = spark.createDataFrame(bench_rows, "vec_id: long, embedding: array<float>")
    got_spark = {
        r.vec_id
        for r in semantic_decontaminate(
            corpus, bench, threshold=t, max_bucket=cap
        ).collect()
    }
    assert got_spark == {1, 2}, got_spark

    # oracle-shaped duckdb twin: corpus capped, benchmark NOT capped
    con = duckdb.connect()
    both = corpus_rows + bench_rows
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [i for i, _ in both],
             "embedding": [[float(x) for x in v] for _, v in both]}
        ),
    )
    sql = f"""
    WITH p AS (
        SELECT vec_id, embedding, {_pack_sql(1, 8)} AS bkt FROM embeddings
    ),
    c_all AS (SELECT * FROM p WHERE vec_id < 100),
    c AS (SELECT * FROM c_all {cap_bucket_qualify_sql('bkt', cap)}),
    b AS (SELECT * FROM p WHERE vec_id >= 100),
    flagged AS (
        SELECT DISTINCT c.vec_id
        FROM c JOIN b ON c.bkt = b.bkt
        WHERE {_cos('c.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} >= {t}
    )
    SELECT a.vec_id FROM c_all a LEFT JOIN flagged f ON a.vec_id = f.vec_id
    WHERE f.vec_id IS NULL
    """
    got_duck = {r[0] for r in con.execute(sql).fetchall()}
    assert got_duck == got_spark == {1, 2}

    # and the corpus cap still bites: shrink it below the corpus bucket
    got_capped = {
        r.vec_id
        for r in semantic_decontaminate(
            corpus, bench, threshold=t, max_bucket=2
        ).collect()
    }
    assert got_capped == {0, 1, 2}  # over-cap corpus bucket → no pairs


# --- the featurizer and api.retrieve against independent references ------

_VOCAB = ("greek", "yogurt", "plain", "nonfat", "cheddar", "cheese", "whole", "milk",
          "apple", "juice", "raw", "organic", "peanut", "butter", "salted", "bread")
_ZERO_IDS = {67, 157, 247}  # None, "" and whitespace-only names: zero vectors


def _food_names(n: int = 120) -> list[tuple[int, str | None]]:
    """Seeded food names: three copies of one name (tied scores) and
    three names without tokens (zero vectors)."""
    import random

    rnd = random.Random(5)
    names = [" ".join(rnd.choice(_VOCAB) for _ in range(rnd.randint(1, 4))) for _ in range(n)]
    names[10] = names[40] = names[70] = "greek yogurt plain"
    names[20], names[50], names[80] = None, "", " \t "
    return [(3 * i + 7, t) for i, t in enumerate(names)]


def _md5_embed(text: str | None, dim: int) -> list[float]:
    """Reference featurizer: md5 bucket counts of the lower-cased
    ASCII-whitespace tokens, L2-normalized."""
    import hashlib
    import re

    counts = [0.0] * dim
    for tok in re.split(r"[ \t\n\x0b\f\r]+", (text or "").strip().lower()):
        if tok:
            counts[int(hashlib.md5(f"s11:{tok}".encode()).hexdigest()[:12], 16) % dim] += 1.0
    norm = math.sqrt(sum(c * c for c in counts))
    return [c / norm for c in counts] if norm > 0 else counts


def _fold_topk(ids, vecs, query, k):
    """Exact cosine top-k with every dot product a sequential double
    fold (the engine's arithmetic): score descending, ties by id; rows
    with a zero norm are skipped."""
    import numpy as np

    def fold_dot(m, v):
        acc = np.zeros(m.shape[0])
        for j in range(m.shape[1]):
            acc = acc + m[:, j] * v[j]
        return acc

    ids = np.asarray(ids)
    m = np.asarray(vecs, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    denom = np.sqrt(fold_dot(m * m, np.ones(m.shape[1]))) * math.sqrt(fold_dot(q[None, :], q)[0])
    keep = np.flatnonzero(denom != 0)
    scores = fold_dot(m[keep], q) / denom[keep]
    order = np.lexsort((ids[keep], -scores))[:k]
    return [(int(ids[keep[i]]), float(scores[i])) for i in order]


def test_featurizer_driver_udf_and_md5_reference_agree(spark):
    import numpy as np

    from usda_food_data_pipeline_spark.functions.embed import embed_text_batch, embed_vector

    texts = [None, "", "   ", "yogurt", "greek yogurt", "a\tb\nc \r d\x0b\x0ce", "ΟΔΟΣ", "İstanbul",
             "straße", "milk milk MILK bread", "a\u00a0b  c"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    for dim in (7, 64):
        udf = {r.i: r.v for r in df.select("i", embed_text_batch(dim)("t").alias("v")).collect()}
        for i, t in enumerate(texts):
            want = np.array(_md5_embed(t, dim)).tobytes()
            assert np.array(embed_vector(t, dim)).tobytes() == want, (dim, t)
            assert np.array(udf[i]).tobytes() == want, (dim, t)


@pytest.fixture(scope="module")
def food_index(spark, tmp_path_factory):
    from usda_food_data_pipeline_spark import api

    # file-backed metadata, as the reference's is (its size is known to
    # the planner, so the metadata join broadcasts it)
    root = tmp_path_factory.mktemp("food_index")
    spark.createDataFrame(_food_names(), "fdc_id long, description string").write.parquet(
        str(root / "names")
    )
    names = spark.read.parquet(str(root / "names"))
    paths = {}
    for dim in (64, 1024):
        paths[dim] = str(root / f"dim{dim}")
        api.build_index(spark, names, "description", "fdc_id", paths[dim], dim=dim)
    return names, paths


@pytest.mark.parametrize("dim", [64, 1024])
def test_retrieve_matches_sequential_fold_topk(spark, food_index, dim):
    from usda_food_data_pipeline_spark import api

    names, paths = food_index
    desc = dict(_food_names())
    index = [(r.fdc_id, r.embedding) for r in spark.read.parquet(paths[dim]).collect()]
    ids, vecs = [i for i, _ in index], [v for _, v in index]
    assert {i for i, v in index if not any(v)} == _ZERO_IDS
    n_nonzero = len(index) - len(_ZERO_IDS)
    queries = ["greek yogurt", "cheddar cheese whole", "apple juice raw", "unknownword",
               "Milk  MILK\tbread"]
    ties = 0
    for q in queries:
        for k in (10, n_nonzero + 5):
            want = _fold_topk(ids, vecs, _md5_embed(q, dim), k)
            hits = api.retrieve(spark, paths[dim], q, metadata_df=names, id_col="fdc_id",
                                k=k, dim=dim)
            assert [(h["fdc_id"], h["score"]) for h in hits] == want, (q, k)
            assert all(h.get("description") == desc[h["fdc_id"]] for h in hits)
            assert not {h["fdc_id"] for h in hits} & _ZERO_IDS
            ties += sum(a["score"] == b["score"] for a, b in zip(hits, hits[1:]))
        # k beyond the rows with a nonzero vector returns exactly those rows
        assert len(hits) == n_nonzero
    assert ties > 0  # the duplicate names did produce tied scores


def test_retrieve_rejects_metadata_score_column(spark, food_index):
    from usda_food_data_pipeline_spark import api

    names, paths = food_index
    meta = names.withColumn("score", F.lit(1.0))
    with pytest.raises(ValueError, match="'score'"):
        api.retrieve(spark, paths[64], "greek yogurt", metadata_df=meta, id_col="fdc_id")


def test_retrieve_cost_no_python_worker_no_broadcast_join(spark, food_index, monkeypatch):
    """api.retrieve with file-backed metadata runs at most 2 Spark jobs
    and scores the index against a literal query vector: no Python
    evaluation, no nested-loop join."""
    from usda_food_data_pipeline_spark import api

    names, paths = food_index
    df_cls = type(names)
    collect = df_cls.collect
    plans = []

    def spy(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    sc = spark.sparkContext
    sc.setJobGroup("test_retrieve_cost", "api.retrieve")
    try:
        hits = api.retrieve(spark, paths[64], "greek yogurt", metadata_df=names,
                            id_col="fdc_id", k=10, dim=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(hits) == 10
    assert len(sc.statusTracker().getJobIdsForGroup("test_retrieve_cost")) <= 2
    [plan] = plans
    for node in ("ArrowEvalPython", "BatchEvalPython", "BroadcastNestedLoopJoin"):
        assert node not in plan


def test_retrieve_hybrid_output_pinned(spark, tmp_path):
    """retrieve_hybrid's fused (doc_id, rank_lexical, rank_vector, rrf)
    on a fixed query set, as the DataFrame-query vector side produced."""
    from usda_food_data_pipeline_spark import api

    docs = spark.createDataFrame(_food_names(), "doc_id long, text string")
    path = str(tmp_path / "index")
    api.build_index(spark, docs, "text", "doc_id", path, dim=64)
    want = {
        "greek yogurt": [
            (37, 1, 1, 0.032786885), (127, 2, 2, 0.032258065), (217, 3, 3, 0.031746032),
            (28, 4, 6, 0.030776515), (109, 6, 4, 0.030776515)],
        "cheddar cheese": [
            (121, 1, 2, 0.032522475), (313, 2, 3, 0.032002048), (46, 3, 7, 0.030798389),
            (160, 4, 9, 0.030117754), (25, 9, 5, 0.029877369)],
        "apple juice raw": [
            (91, 1, 2, 0.032522475), (34, 3, 1, 0.032266458), (262, 2, 3, 0.032002048),
            (151, 4, 4, 0.03125), (49, 5, 5, 0.030769231)],
        "unknownword": [
            (7, None, 1, 0.016393443), (10, None, 2, 0.016129032), (13, None, 3, 0.015873016),
            (16, None, 4, 0.015625), (19, None, 5, 0.015384615)],
        "Milk  MILK\tbread": [
            (250, 1, 2, 0.032522475), (298, 4, 1, 0.032018443), (226, 2, 4, 0.031754032),
            (16, 5, 3, 0.031257631), (364, 3, 7, 0.030798389)],
    }
    desc = dict(_food_names())
    for q, rows in want.items():
        out = api.retrieve_hybrid(spark, path, docs, q, dim=64, k=5, candidates=10)
        assert [(r["doc_id"], r["rank_lexical"], r["rank_vector"], r["rrf"]) for r in out] == rows
        assert all(r["text"] == desc[r["doc_id"]] for r in out)


def _parquet_files(path: str) -> list[str]:
    import glob

    return glob.glob(f"{path}/*.parquet")


@pytest.fixture(scope="module")
def spread_index(spark, food_index, tmp_path_factory):
    """The food names' index built from a 1-partition input, and a
    single-file copy of the same rows."""
    from usda_food_data_pipeline_spark import api

    names, _ = food_index
    root = tmp_path_factory.mktemp("spread_index")
    spread, single = str(root / "spread"), str(root / "single")
    api.build_index(spark, names.coalesce(1), "description", "fdc_id", spread, dim=64)
    spark.read.parquet(spread).coalesce(1).write.parquet(single)
    return spread, single


def test_build_index_writes_a_file_per_core(spark, spread_index):
    spread, single = spread_index
    assert len(_parquet_files(spread)) >= spark.sparkContext.defaultParallelism
    assert len(_parquet_files(single)) == 1


def test_build_index_keeps_the_layout_of_a_parallel_input(spark, tmp_path):
    from usda_food_data_pipeline_spark import api

    n = spark.sparkContext.defaultParallelism + 2
    docs = spark.range(0, 200, 1, n).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("food "), F.col("id") % 13).alias("text")
    )
    api.build_index(spark, docs, "text", "doc_id", str(tmp_path / "index"), dim=16)
    assert len(_parquet_files(str(tmp_path / "index"))) == n


def test_retrieve_same_over_spread_and_single_file_index(spark, food_index, spread_index):
    """Ids, exact scores and order do not depend on the index's file
    layout, tied scores and k beyond the row count included."""
    from usda_food_data_pipeline_spark import api

    names, _ = food_index
    spread, single = spread_index
    n_rows = spark.read.parquet(single).count()
    ties = 0
    for q in ("greek yogurt", "cheddar cheese whole", "apple juice raw", "Milk  MILK\tbread"):
        for k in (10, n_rows + 5):
            got, want = (
                [(h["fdc_id"], h["score"], h.get("description"))
                 for h in api.retrieve(spark, path, q, metadata_df=names, id_col="fdc_id",
                                       k=k, dim=64)]
                for path in (spread, single)
            )
            assert got == want, (q, k)
            ties += sum(a[1] == b[1] for a, b in zip(got, got[1:]))
    assert ties > 0


def test_retrieve_over_index_of_empty_input(spark, food_index, tmp_path):
    from usda_food_data_pipeline_spark import api

    names, _ = food_index
    path = str(tmp_path / "index")
    api.build_index(spark, names.limit(0), "description", "fdc_id", path, dim=64)
    assert api.retrieve(spark, path, "greek yogurt", metadata_df=names, id_col="fdc_id") == []


def test_retrieve_scores_index_in_parallel(spark, food_index, spread_index):
    """Over an index built from a 1-partition input, with 1-partition
    metadata, the scoring stage of one call runs more than one task and
    the call still runs at most 3 jobs."""
    from usda_food_data_pipeline_spark import api

    sc = spark.sparkContext
    if sc.defaultParallelism < 2:
        pytest.skip("needs a session of 2 or more cores")
    names, _ = food_index
    spread, _ = spread_index
    sc.setJobGroup("test_retrieve_parallel", "api.retrieve")
    try:
        hits = api.retrieve(spark, spread, "greek yogurt", metadata_df=names.coalesce(1),
                            id_col="fdc_id", k=10, dim=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(hits) == 10
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("test_retrieve_parallel")
    assert len(jobs) <= 3
    tasks = [
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    assert max(tasks) > 1, tasks

