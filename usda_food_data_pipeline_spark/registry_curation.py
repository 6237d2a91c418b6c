"""Corpus-curation extensions: graded contamination scoring, Bloom-filter
decontamination, hashing-trick featurization, tokenizer-fertility
datacards, and rolling order statistics.

Every query here follows the registry contract: the Spark plan and the
DuckDB oracle are generated from the SAME constants (seeds, dims, grid
scales), all hashing is md5-portable (``operators.dedup.md5_int`` /
``oracle_md5_int_sql``), and every ratio is emitted as an integer (ppm)
computed with integer division so no float rounding can diverge between
engines.

Scale notes (100 TB posture) are on each operator: the benchmark /
model side of every join is broadcast, corpus text never shuffles
(only ids + integer codes), and there are no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import md5_int, oracle_md5_int_sql, tokenize, word_shingles
from .registry import register
from .registry_text import TOKS_SQL, shingles_sql
from .session import own
from .sources.tables import load_table
from .sources.tables import spread as _spread

# ---------------------------------------------------------------------------
# Graded n-gram contamination scoring
# ---------------------------------------------------------------------------

# benchmark split convention shared with `decontaminate` (registry_text):
# doc_id % 7 == 0 plays the eval suite, the rest is the training corpus
_BENCH_MOD = 7
_SHINGLE_N = 3

NGRAM_OVERLAP_ORACLE = f"""
WITH bench AS (
    SELECT DISTINCT unnest({shingles_sql(TOKS_SQL, _SHINGLE_N)}) AS s
    FROM documents WHERE doc_id % {_BENCH_MOD} = 0
),
corpus AS (
    SELECT doc_id, {shingles_sql(TOKS_SQL, _SHINGLE_N)} AS sh
    FROM documents WHERE doc_id % {_BENCH_MOD} <> 0
),
ex AS (
    SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
    FROM corpus WHERE len(sh) > 0
)
SELECT e.doc_id AS doc_id,
       CAST(max(e.n_sh) AS BIGINT) AS n_shingles,
       CAST(count(b.s) AS BIGINT) AS n_contaminated,
       CAST((count(b.s) * 1000000) // max(e.n_sh) AS BIGINT) AS contamination_ppm
FROM ex e LEFT JOIN bench b ON e.s = b.s
GROUP BY e.doc_id
"""


@register(
    "ngram_overlap_score",
    NGRAM_OVERLAP_ORACLE,
    "graded contamination: per-doc fraction of word-trigrams found in the benchmark set (ppm)",
)
def q_ngram_overlap_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded train/test contamination score. `decontaminate` answers
    "which docs share >=2 shingles with SOME benchmark doc"; release
    pipelines also need the per-document contamination FRACTION to set
    a removal threshold (the WMT / GPT-3 style "dirty if >X% of
    n-grams appear in any eval set" rule). One number per corpus doc:
    |doc shingles ∩ benchmark shingle union| / |doc shingles|.

    Scale shape: the benchmark shingle UNION (eval suites: thousands of
    docs) is globally deduped and BROADCAST, so corpus shingles stream
    through a map-side hash join — corpus text never shuffles; the only
    exchange is the per-doc count aggregation keyed by doc_id, and its
    payload is (id, two ints). The ratio is integer ppm (floor division
    on both engines), so the gate compares exactly.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    bench = (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            F.explode(word_shingles(tokenize(F.col("text")), _SHINGLE_N)).alias("s")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = (
        docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select("doc_id", word_shingles(tokenize(F.col("text")), _SHINGLE_N).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .filter(F.col("n_sh") > 0)
    )
    ex = corpus.select("doc_id", "n_sh", F.explode("sh").alias("s"))
    return (
        ex.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_sh").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.expr("(n_contaminated * 1000000) div n_shingles").alias(
                "contamination_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (O(bits) memory membership screen)
# ---------------------------------------------------------------------------

_BLOOM_M = 16384  # bits
_BLOOM_SEEDS = (71, 72, 73)  # k = 3 independent md5-derived positions
_BLOOM_MIN_HITS = 2  # same flag threshold as `decontaminate`


def _bloom_oracle() -> str:
    k = len(_BLOOM_SEEDS)
    pos_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, s, {oracle_md5_int_sql('s', seed)} % {_BLOOM_M} AS p FROM cs"
        for seed in _BLOOM_SEEDS
    )
    bit_selects = "\n    UNION\n".join(
        f"    SELECT {oracle_md5_int_sql('s', seed)} % {_BLOOM_M} AS p FROM bench_sh"
        for seed in _BLOOM_SEEDS
    )
    return f"""
WITH bench_sh AS (
    SELECT DISTINCT unnest({shingles_sql(TOKS_SQL, _SHINGLE_N)}) AS s
    FROM documents WHERE doc_id % {_BENCH_MOD} = 0
),
bits AS (
{bit_selects}
),
cs AS (
    SELECT doc_id, unnest({shingles_sql(TOKS_SQL, _SHINGLE_N)}) AS s
    FROM documents WHERE doc_id % {_BENCH_MOD} <> 0
),
pos AS (
{pos_selects}
),
probed AS (
    SELECT c.doc_id, c.s, count(b.p) AS n_set
    FROM pos c LEFT JOIN bits b ON c.p = b.p
    GROUP BY c.doc_id, c.s
),
marked AS (
    SELECT h.doc_id, h.n_set, (t.s IS NOT NULL) AS is_true
    FROM probed h LEFT JOIN bench_sh t ON h.s = t.s
)
SELECT doc_id,
       CAST(count(*) FILTER (WHERE n_set = {k}) AS BIGINT) AS n_bloom_hits,
       CAST(count(*) FILTER (WHERE is_true) AS BIGINT) AS n_true_hits
FROM marked GROUP BY doc_id
HAVING count(*) FILTER (WHERE n_set = {k}) >= {_BLOOM_MIN_HITS}
"""


@register(
    "bloom_decontaminate",
    _bloom_oracle(),
    "Bloom-filter membership decontamination screen with measured false-positive hits",
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a Bloom filter instead of the exact shingle
    set. `decontaminate` broadcasts the benchmark's shingle STRINGS —
    fine for thousand-doc eval suites, but a benchmark of 10^9 shingles
    (e.g. screening against an entire held-out corpus) can't ship as a
    string set. A Bloom filter is the standard fix: k md5-derived bit
    positions in an m-bit array; membership = all k bits set. Memory is
    O(m) REGARDLESS of benchmark size, at a tunable false-positive
    rate.

    The filter here is deterministic (md5 positions, fixed m and k), so
    the whole chain — including the false positives — oracle-checks
    exactly, and the output reports `n_bloom_hits` NEXT TO the exact
    `n_true_hits`: the gap IS the measured FP behaviour (the honest-
    diagnostic pattern of adc_recall_eval/lsh_recall_eval, applied to
    membership screening).

    Scale shape: `bits` is at most m distinct integers — broadcast —
    and because shingles are DISTINCT per doc (`word_shingles` ends in
    `array_distinct`), the k membership probes of a (doc, shingle) row
    are scan-local: k broadcast left joins against the SAME bits build
    (identical broadcast plans — ReuseExchange ships one) replace the
    (doc_id, shingle)-keyed probe aggregation, so the only exchange the
    corpus pays is the final doc_id rollup of two small ints, with
    map-side partial aggregation. (r12 opt: the previous shape unioned
    k corpus-wide (doc_id, s, p) arms into a groupBy(doc_id, s) — a
    k×-corpus-sized shuffle of full shingle strings that the per-doc
    distinctness makes unnecessary; same-session A/B 0.49×.) With real
    Spark infrastructure you'd hand the same m-bit array to
    `bloom_filter_agg`/`might_contain` (the runtime-filter pin in
    test_layout.py shows that machinery); this operator keeps the
    portable-integer form so the FP accounting stays oracle-checkable.
    """
    k = len(_BLOOM_SEEDS)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    bench_sh = (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            F.explode(word_shingles(tokenize(F.col("text")), _SHINGLE_N)).alias("s")
        )
        .distinct()
    )
    bits = (
        bench_sh.select(
            F.explode(
                F.array(
                    *[
                        (md5_int(F.col("s"), seed) % _BLOOM_M)
                        for seed in _BLOOM_SEEDS
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .withColumn("set_", F.lit(1))
    )

    probed = docs.filter(F.col("doc_id") % _BENCH_MOD != 0).select(
        "doc_id",
        F.explode(word_shingles(tokenize(F.col("text")), _SHINGLE_N)).alias("s"),
    )
    for i, seed in enumerate(_BLOOM_SEEDS):
        probed = probed.withColumn(f"_p{i}", md5_int(F.col("s"), seed) % _BLOOM_M)
    for i in range(k):
        b = F.broadcast(
            bits.select(F.col("p").alias(f"_p{i}"), F.col("set_").alias(f"_h{i}"))
        )
        probed = probed.join(b, f"_p{i}", "left")
    n_set = sum(
        F.when(F.col(f"_h{i}").isNotNull(), 1).otherwise(0) for i in range(k)
    )
    marked = probed.withColumn("n_set", n_set).join(
        F.broadcast(bench_sh.withColumn("true_", F.lit(1))), "s", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n_set") == k, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bloom_hits"),
            F.count("true_").alias("n_true_hits"),
        )
        .filter(F.col("n_bloom_hits") >= _BLOOM_MIN_HITS)
    )


# ---------------------------------------------------------------------------
# Hashing-trick featurization (feature hashing / "the hashing trick")
# ---------------------------------------------------------------------------

_FH_DIMS = 256
_FH_SEED_DIM = 101
_FH_SEED_SIGN = 103

FEATURE_HASHING_ORACLE = f"""
WITH ex AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS t FROM documents
),
h AS (
    SELECT doc_id,
           {oracle_md5_int_sql('t', _FH_SEED_DIM)} % {_FH_DIMS} AS dim,
           1 - 2 * ({oracle_md5_int_sql('t', _FH_SEED_SIGN)} % 2) AS sgn
    FROM ex
)
SELECT doc_id, CAST(dim AS BIGINT) AS dim, CAST(sum(sgn) AS BIGINT) AS feat_val
FROM h GROUP BY doc_id, dim
HAVING sum(sgn) <> 0
"""


@register(
    "feature_hashing",
    FEATURE_HASHING_ORACLE,
    "hashing-trick bag-of-words: signed token counts hashed into a fixed feature space",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009): vocabulary-free text
    featurization for linear quality classifiers at corpus scale. Each
    token hashes to one of d dimensions; a second hash supplies a ±1
    sign so collisions cancel in expectation (unbiased inner products).
    The output is the sparse COO form (doc_id, dim, value) — the
    representation a distributed LR/SVM trainer consumes directly.

    Why it matters at 100 TB: TF-IDF (tfidf_keywords) needs a global
    vocabulary pass + a dictionary join; the hashing trick is ONE
    map-side projection per token and a (doc, dim) sum — no vocabulary
    state at all, and d bounds the feature space regardless of corpus
    vocabulary growth. Both hashes ride the same md5 the dedup family
    uses, so the oracle reproduces every collision exactly.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    ex = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
    h = ex.select(
        "doc_id",
        (md5_int(F.col("t"), _FH_SEED_DIM) % _FH_DIMS).alias("dim"),
        (F.lit(1) - F.lit(2) * (md5_int(F.col("t"), _FH_SEED_SIGN) % 2)).alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("feat_val"))
        .filter(F.col("feat_val") != 0)
        .select("doc_id", F.col("dim").cast("bigint").alias("dim"), "feat_val")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility datacard (per-language subword cost)
# ---------------------------------------------------------------------------

# ceil(len/4): 4-chars-per-subword proxy — the real tokenizer is a
# trained BPE (see bpe_train/bpe_encode_stats); the datacard needs a
# corpus-wide per-language RATE, for which the deterministic proxy
# keeps every figure integer-exact
_SUBWORD_CHARS = 4

TOKENIZER_FERTILITY_ORACLE = f"""
WITH per_doc AS (
    SELECT lang,
           len({TOKS_SQL}) AS n_tok,
           coalesce(list_sum(list_transform({TOKS_SQL}, t -> length(t))), 0) AS n_tok_chars,
           coalesce(list_sum(list_transform({TOKS_SQL},
               t -> (length(t) + {_SUBWORD_CHARS - 1}) // {_SUBWORD_CHARS})), 0) AS n_sub
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       CAST((sum(n_sub) * 1000000) // sum(n_tok) AS BIGINT) AS fertility_ppm,
       CAST((sum(n_tok_chars) * 1000000) // sum(n_tok) AS BIGINT) AS mean_token_len_ppm
FROM per_doc
GROUP BY lang HAVING sum(n_tok) > 0
"""


@register(
    "tokenizer_fertility",
    TOKENIZER_FERTILITY_ORACLE,
    "per-language tokenizer fertility datacard (subwords per word, ppm-exact)",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the datacard statistic that
    drives multilingual mixing decisions (a language whose words cost
    2× the subwords consumes 2× the training budget per document, so
    temperature_mix weights are usually set on TOKENS, not docs).
    Subword cost uses the deterministic ceil(len/4) proxy so the whole
    card is integer-exact; the trained-BPE path exists separately
    (bpe_encode_stats) where exact merges matter.

    Scale shape: one narrow map-side projection (three ints per doc —
    the token arrays never leave their input partitions) into a
    5-language aggregate; partial aggregation absorbs everything before
    the exchange, so the shuffle payload is O(languages), not O(docs).
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    zero = F.lit(0).cast("bigint")
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.aggregate(toks, zero, lambda s, t: s + F.length(t)).alias("n_tok_chars"),
        F.aggregate(
            toks,
            zero,
            lambda s, t: s
            + F.floor((F.length(t) + (_SUBWORD_CHARS - 1)) / _SUBWORD_CHARS).cast(
                "bigint"
            ),
        ).alias("n_sub"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_sub").alias("n_subwords"),
            F.sum("n_tok_chars").alias("_chars"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_subwords",
            F.expr("(n_subwords * 1000000) div n_tokens").alias("fertility_ppm"),
            F.expr("(_chars * 1000000) div n_tokens").alias("mean_token_len_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling exact median (order statistic over a row frame)
# ---------------------------------------------------------------------------

_RM_WINDOW = 5  # trailing rows (current + 4 preceding)
_RM_GRID = 100  # cents — same grid as events_twap


@register(
    "rolling_median",
    f"""
    WITH v AS (
        SELECT event_id, user_id, ts,
               CAST(floor((value * {_RM_GRID}) + 0.5) AS BIGINT) AS vc
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, ts,
               list_sort(list(vc) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_RM_WINDOW - 1} PRECEDING AND CURRENT ROW)) AS win
        FROM v
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN len(win) % 2 = 1 THEN win[(len(win) + 1) // 2]
                ELSE (win[len(win) // 2] + win[len(win) // 2 + 1]) // 2
           END AS BIGINT) AS rolling_median_cents
    FROM w
    """,
    "per-user rolling exact median of the trailing 5 event values (integer cents)",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN over a row frame — the robust-statistics sibling
    of rolling_anomaly's trailing mean/std (a single outlier saturates
    a mean-based detector's own baseline; the median baseline doesn't
    flinch). Spark has no median window function; the portable form
    collects the O(1)-bounded frame (5 values) into an array, sorts it,
    and indexes the middle — exact integers end-to-end, even-length
    frames take the floor-average of the two middle elements on both
    engines.

    Scale shape: one shuffle on user_id (the window partition — same
    exchange every per-user window query pays), frames are constant-
    size arrays so memory per row is O(window), not O(history).
    """
    events = load_table(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * _RM_GRID + F.lit(0.5)).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_RM_WINDOW - 1), Window.currentRow)
    )
    win = F.array_sort(F.collect_list(vc).over(w))
    n = F.size(win)
    med = (
        F.when(n % 2 == 1, F.element_at(win, ((n + 1) / 2).cast("int")))
        .otherwise(
            F.floor(
                (
                    F.element_at(win, (n / 2).cast("int"))
                    + F.element_at(win, (n / 2 + 1).cast("int"))
                )
                / 2
            )
        )
        .cast("bigint")
    )
    return events.select(
        "event_id", "user_id", med.alias("rolling_median_cents")
    )


# ---------------------------------------------------------------------------
# Split-integrity eval: near-dup leakage across train/val/test
# ---------------------------------------------------------------------------


def _split_case_sql() -> str:
    from .registry_text import _SPLIT_SEED

    h = oracle_md5_int_sql("CAST(doc_id AS VARCHAR)", _SPLIT_SEED)
    return (
        f"CASE WHEN {h} % 10 < 8 THEN 'train' "
        f"WHEN {h} % 10 < 9 THEN 'val' ELSE 'test' END"
    )


def _split_leakage_oracle() -> str:
    from .registry_text import minhash_pairs_ctes

    return f"""
WITH {minhash_pairs_ctes('documents')},
splits AS (
    SELECT doc_id, {_split_case_sql()} AS split FROM documents
),
pairs AS (
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           p.id_a, p.id_b
    FROM mh_pairs p
    JOIN splits sa ON p.id_a = sa.doc_id
    JOIN splits sb ON p.id_b = sb.doc_id
),
unioned AS (
    SELECT split_a, split_b, id_a AS d FROM pairs
    UNION
    SELECT split_a, split_b, id_b AS d FROM pairs
)
SELECT c.split_a, c.split_b, c.n_pairs, u.n_docs
FROM (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY split_a, split_b) c
JOIN (SELECT split_a, split_b, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      FROM unioned GROUP BY split_a, split_b) u
  ON c.split_a = u.split_a AND c.split_b = u.split_b
"""


@register(
    "split_leakage_eval",
    _split_leakage_oracle(),
    "train/val/test integrity check: verified near-dup pairs crossing split boundaries",
)
def q_split_leakage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-integrity audit: a random train/val/test split leaks —
    near-duplicate documents land on opposite sides of the boundary and
    the eval score silently measures memorization. This composes the
    attested MinHash-LSH near-dup detector (dedup_minhash_lsh's exact
    parameters) with the attested content-hash split (dataset_split's
    assignment) and reports, per unordered split pair, how many
    VERIFIED near-dup pairs cross it and how many distinct docs are
    involved. ('train','train') rows are the in-split dup baseline the
    cross-split rows should be read against.

    Scale shape: inherits the LSH layout (banded bucket join, never
    all-pairs); split assignment is a map-side hash — the only new
    exchanges are two small aggregations over the verified-pair stream,
    which is output-sized (near-dups), not corpus-sized.
    """
    from .operators.dedup import minhash_lsh_pairs
    from .operators.topk import split_assign
    from .registry_text import (
        _BANDS,
        _MH_THRESHOLD,
        _NUM_HASHES,
        _SHINGLE_N as _MH_SHINGLE_N,
        _SPLIT_SEED,
    )

    docs = _spread(load_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=_MH_SHINGLE_N,
        jaccard_threshold=_MH_THRESHOLD,
    )
    # the split is a pure FUNCTION of the id (md5 bucket), so it attaches
    # to the pair stream as an expression — at 100 TB a (doc_id, split)
    # join would ship a corpus-sized table; this ships nothing
    fractions = {"train": 8, "val": 1, "test": 1}
    p = split_assign(pairs, "id_a", fractions, seed=_SPLIT_SEED).withColumnRenamed(
        "split", "s_a"
    )
    p = split_assign(p, "id_b", fractions, seed=_SPLIT_SEED).withColumnRenamed(
        "split", "s_b"
    )
    p = (
        p.select(
            F.least("s_a", "s_b").alias("split_a"),
            F.greatest("s_a", "s_b").alias("split_b"),
            "id_a",
            "id_b",
        )
    )
    # the two aggregates both read the verified pair stream, which is
    # referenced three times (count + two union arms) — persist the
    # OUTPUT-SIZED pair table once so the LSH build runs once
    p = own(p)
    p.count()
    n_pairs = p.groupBy("split_a", "split_b").agg(F.count(F.lit(1)).alias("n_pairs"))
    unioned = (
        p.select("split_a", "split_b", F.col("id_a").alias("d"))
        .unionByName(p.select("split_a", "split_b", F.col("id_b").alias("d")))
        .distinct()
    )
    n_docs = unioned.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return n_pairs.join(n_docs, ["split_a", "split_b"])


# ---------------------------------------------------------------------------
# Cluster purity: k-means assignment quality against held labels
# ---------------------------------------------------------------------------


def _cluster_purity_oracle() -> str:
    from .registry_vector import _kmeans_oracle

    return f"""
WITH ka AS ({_kmeans_oracle()}),
j AS (
    SELECT ka.cluster, e.label
    FROM ka JOIN embeddings e ON ka.vec_id = e.vec_id
),
cl AS (SELECT cluster, label, count(*) AS n FROM j GROUP BY cluster, label),
tot AS (SELECT cluster, sum(n) AS n_vecs FROM cl GROUP BY cluster),
top AS (SELECT cluster, max(n) AS n_maj FROM cl GROUP BY cluster),
lab AS (
    SELECT c.cluster, min(c.label) AS majority_label
    FROM cl c JOIN top t ON c.cluster = t.cluster AND c.n = t.n_maj
    GROUP BY c.cluster
)
SELECT t.cluster,
       CAST(tot.n_vecs AS BIGINT) AS n_vecs,
       CAST(lab.majority_label AS INTEGER) AS majority_label,
       CAST(t.n_maj AS BIGINT) AS n_majority,
       CAST((t.n_maj * 1000000) // tot.n_vecs AS BIGINT) AS purity_ppm
FROM top t JOIN tot ON t.cluster = tot.cluster JOIN lab ON t.cluster = lab.cluster
"""


@register(
    "cluster_purity",
    _cluster_purity_oracle(),
    "k-means cluster purity against held-out labels (majority share per cluster, ppm)",
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering eval: per k-means cluster, the share of its
    vectors belonging to the majority ground-truth label — the standard
    purity diagnostic for whether embedding clusters track semantics
    (and hence whether cluster_balanced_sample's topic caps and
    semantic_dedup's buckets mean what the curator thinks). Reuses the
    attested exact-integer Lloyd assignment, so the eval can't drift
    from the operator it grades; majority ties break to the smallest
    label on both engines.

    Scale shape: the label join is id-keyed (co-partitioned with the
    assignment output); everything after it is O(k × labels) — the
    contingency table, not the data, crosses the last exchange.
    """
    from .operators.kmeans import kmeans_assign
    from .registry_vector import _KM_ITER, _KM_K

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=_KM_K, n_iter=_KM_ITER)
    j = assign.select("vec_id", "cluster").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cl = j.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("cluster")
    ranked = cl.select(
        "cluster",
        "label",
        "n",
        F.sum("n").over(w).alias("n_vecs"),
        F.max("n").over(w).alias("n_maj"),
    ).filter(F.col("n") == F.col("n_maj"))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.min("label").cast("int").alias("majority_label"),
            F.max("n_maj").alias("n_majority"),
        )
        .select(
            "cluster",
            "n_vecs",
            "majority_label",
            "n_majority",
            F.expr("(n_majority * 1000000) div n_vecs").alias("purity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Per-domain percentile normalization of a quality signal
# ---------------------------------------------------------------------------


@register(
    "quality_percentile_norm",
    """
    SELECT doc_id, source, n_chars,
           CAST(CASE WHEN cnt > 1 THEN ((rk - 1) * 1000000) // (cnt - 1)
                ELSE 0 END AS BIGINT) AS pct_rank_ppm
    FROM (
        SELECT doc_id, source, n_chars,
               rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
               count(*) OVER (PARTITION BY source) AS cnt
        FROM documents
    )
    """,
    "per-domain percentile normalization of a quality signal (exact percent_rank, ppm)",
)
def q_quality_percentile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalize a quality signal WITHIN each source domain before
    applying a global keep-threshold. A raw cutoff (quality_bins /
    gopher_rules style) is a different strictness per domain — web text
    scores systematically below curated text, so a global raw threshold
    quietly drops whole domains. Percentile-normalizing within source
    makes "keep the top 40%" mean the same thing everywhere (the
    CCNet-style per-shard quantile bucketing move).

    percent_rank is emitted as the exact rational (rank-1)/(n-1) in
    floor-ppm — both engines compute it in integers, ties share a rank
    on both sides.

    Scale shape: one exchange on source (any per-domain statistic pays
    it); the rank window streams sorted runs, and the output is a
    projection — no second pass, no collect. Skewed domain sizes are
    the real hazard at 100 TB (one source = one partition); the
    documented mitigation is the same as topk_per_group's: range-
    partition within source when a single domain exceeds executor
    memory.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    wr = w.orderBy("n_chars")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.rank().over(wr).alias("rk"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("cnt") > 1, F.expr("((rk - 1) * 1000000) div (cnt - 1)")
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pct_rank_ppm"),
    )


# ---------------------------------------------------------------------------
# Embedding-space outlier pruning: farthest vectors per cluster
# ---------------------------------------------------------------------------

_CO_TOP = 5


def _cluster_outliers_oracle() -> str:
    from .registry_vector import _kmeans_oracle

    return f"""
SELECT vec_id, cluster, d2, rk FROM (
    SELECT vec_id, cluster, d2,
           CAST(row_number() OVER (
               PARTITION BY cluster ORDER BY d2 DESC, vec_id
           ) AS INTEGER) AS rk
    FROM ({_kmeans_oracle()}) ka
) WHERE rk <= {_CO_TOP}
"""


@register(
    "cluster_outliers",
    _cluster_outliers_oracle(),
    f"embedding-space noise candidates: top-{_CO_TOP} farthest vectors from each k-means centroid",
)
def q_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-centroid outlier mining — the curation complement of
    cluster_balanced_sample: that op caps over-represented REGIONS,
    this one surfaces the vectors farthest from ANY structure (mislabeled
    docs, encoder failures, off-distribution noise) for review or
    removal, per cluster so a dense topic can't mask a sparse one's
    outliers. Distance is the attested exact-integer squared grid
    distance (the same d2 the Lloyd assignment minimizes), so the
    ranking is reproducible bit-for-bit on both engines.

    Scale shape: identical to cluster_balanced_sample's — the rk filter
    compiles to WindowGroupLimit, so each task forwards at most top-N
    rows per cluster before the exchange.
    """
    from .operators.kmeans import kmeans_assign
    from .registry_vector import _KM_ITER, _KM_K

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=_KM_K, n_iter=_KM_ITER)
    w = Window.partitionBy("cluster").orderBy(F.col("d2").desc(), F.col("vec_id"))
    return (
        assign.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _CO_TOP)
        .select("vec_id", "cluster", "d2", "rk")
    )


# ---------------------------------------------------------------------------
# Per-dimension winsorization card (robust clip bounds for embeddings)
# ---------------------------------------------------------------------------

_WZ_LO_PCT = 5
_WZ_HI_PCT = 95


def _vector_winsor_oracle() -> str:
    from .operators.kmeans import SCALE, SHIFT

    return f"""
WITH pl AS (
    SELECT vec_id, CAST(pos AS INTEGER) AS pos,
           CAST(floor(CAST(v AS DOUBLE) * {SCALE}) + {SHIFT} AS BIGINT) AS xq
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
),
ranked AS (
    SELECT pos, xq,
           row_number() OVER (PARTITION BY pos ORDER BY xq, vec_id) AS rn,
           count(*) OVER (PARTITION BY pos) AS n
    FROM pl
),
bounds AS (
    SELECT pos,
           max(CASE WHEN rn = (n * {_WZ_LO_PCT} + 99) // 100 THEN xq END) AS lo_q,
           max(CASE WHEN rn = (n * {_WZ_HI_PCT} + 99) // 100 THEN xq END) AS hi_q
    FROM ranked GROUP BY pos
)
SELECT b.pos AS dim,
       CAST(b.lo_q AS BIGINT) AS lo_q,
       CAST(b.hi_q AS BIGINT) AS hi_q,
       CAST(count(*) FILTER (WHERE p.xq < b.lo_q) AS BIGINT) AS n_below,
       CAST(count(*) FILTER (WHERE p.xq > b.hi_q) AS BIGINT) AS n_above
FROM pl p JOIN bounds b ON p.pos = b.pos
GROUP BY b.pos, b.lo_q, b.hi_q
"""


@register(
    "vector_winsor_card",
    _vector_winsor_oracle(),
    f"per-dimension p{_WZ_LO_PCT}/p{_WZ_HI_PCT} winsorization bounds + clip counts on the exact grid",
)
def q_vector_winsor_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-dimension clip bounds for embedding post-processing —
    the winsorization companion to vector_stats' moments: a handful of
    extreme coordinates dominate L2 norms and distort both cosine ANN
    and k-means, so serving stacks clip each dimension at exact rank
    percentiles before indexing. Bounds are the values at ranks
    ceil(p·n) on the same integer grid the k-means family quantizes to;
    the card also counts how many coordinates each bound would clip.

    Scale shape: one exchange keyed by dimension (64 groups), rank
    windows stream sorted runs, and the clip-count pass re-joins the
    8-row-per-dim bounds table by broadcast — no all-dims collect.
    """
    from .operators.kmeans import SCALE, SHIFT

    emb = load_table(spark, sf_dir, "embeddings")
    pl = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        (F.floor(F.col("v").cast("double") * SCALE) + SHIFT)
        .cast("bigint")
        .alias("xq"),
    )
    w = Window.partitionBy("pos")
    wr = w.orderBy("xq", "vec_id")
    ranked = pl.select(
        "pos",
        "xq",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    lo_rank = F.expr(f"(n * {_WZ_LO_PCT} + 99) div 100")
    hi_rank = F.expr(f"(n * {_WZ_HI_PCT} + 99) div 100")
    bounds = ranked.groupBy("pos").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("xq"))).alias("lo_q"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("xq"))).alias("hi_q"),
    )
    return (
        pl.join(F.broadcast(bounds), "pos")
        .groupBy("pos", "lo_q", "hi_q")
        .agg(
            F.sum(F.when(F.col("xq") < F.col("lo_q"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("xq") > F.col("hi_q"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
        )
        .select(
            F.col("pos").alias("dim"), "lo_q", "hi_q", "n_below", "n_above"
        )
    )


# ---------------------------------------------------------------------------
# Sequence-length selection card (truncation vs padding waste)
# ---------------------------------------------------------------------------

_PT_LENS = (128, 256, 512)


def _padding_truncation_oracle() -> str:
    arms = "\n    UNION ALL\n".join(
        f"    SELECT {L} AS max_len, n_toks FROM t" for L in _PT_LENS
    )
    return f"""
WITH t AS (SELECT len({TOKS_SQL}) AS n_toks FROM documents),
arms AS (
{arms}
)
SELECT max_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE n_toks > max_len) AS BIGINT) AS n_truncated,
       CAST(sum(greatest(n_toks - max_len, 0)) AS BIGINT) AS tokens_lost,
       CAST(sum(greatest(max_len - n_toks, 0)) AS BIGINT) AS tokens_padded,
       CAST((sum(greatest(n_toks - max_len, 0)) * 1000000) // sum(n_toks) AS BIGINT)
           AS trunc_waste_ppm,
       CAST((sum(greatest(max_len - n_toks, 0)) * 1000000)
            // (CAST(count(*) AS BIGINT) * max_len) AS BIGINT) AS pad_waste_ppm
FROM arms GROUP BY max_len
"""


@register(
    "padding_truncation_card",
    _padding_truncation_oracle(),
    "sequence-length selection card: truncation loss vs padding waste per candidate max_len",
)
def q_padding_truncation_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max_len decision card: for each candidate sequence length,
    what fraction of corpus tokens a one-doc-per-sequence layout
    TRUNCATES (tokens beyond max_len, lost forever) versus PADS (slots
    below max_len, wasted compute). sequence_packing answers "how do I
    avoid padding by concatenating"; this card quantifies the cost of
    NOT packing, which is what decides whether packing is worth its
    cross-doc attention-contamination tradeoff for a finetuning set.

    Scale shape: the per-doc token count is computed ONCE and fanned to
    the |lens| candidates map-side by exploding a literal array (r12
    opt: the previous |lens|-arm union re-ran the tokenize per arm —
    union arms are independent subtrees, not a shared projection;
    0.82× same-session A/B); partial aggregation collapses everything
    to |lens| rows before the only exchange.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks"))
    arms = t.select(
        F.explode(F.array(*[F.lit(L).cast("int") for L in _PT_LENS])).alias(
            "max_len"
        ),
        "n_toks",
    )
    lost = F.greatest(F.col("n_toks") - F.col("max_len"), F.lit(0))
    padded = F.greatest(F.col("max_len") - F.col("n_toks"), F.lit(0))
    return (
        arms.groupBy("max_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum(F.when(F.col("n_toks") > F.col("max_len"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum(lost).alias("tokens_lost"),
            F.sum(padded).alias("tokens_padded"),
        )
        .select(
            "max_len",
            "n_docs",
            "n_tokens",
            "n_truncated",
            "tokens_lost",
            "tokens_padded",
            F.expr("(tokens_lost * 1000000) div n_tokens").alias("trunc_waste_ppm"),
            F.expr("(tokens_padded * 1000000) div (n_docs * max_len)").alias(
                "pad_waste_ppm"
            ),
        )
    )
