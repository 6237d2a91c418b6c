"""Deduplication operators.

``dedup_latest`` is the reference's D1 (SURVEY §2.3); the rest are the
LLM-training-pipeline extensions (exact / MinHash-LSH / SimHash /
n-gram-Jaccard / embedding-cosine near-dup). All hashing is built on
``md5`` so the DuckDB oracle can reproduce the exact same signatures —
no engine-private hash functions.

Scale notes: every operator here is a pure DataFrame composition —
shuffles only on the dedup/bucket keys, no driver-side iteration. The
pairwise verification steps are always preceded by a blocking/bucketing
join so the cross product never materializes globally.
"""

from __future__ import annotations

import pandas  # noqa: F401 — resolves pandas_udf postponed type hints

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint, own, release


def dedup_latest(
    df: DataFrame, key_cols: list[str], order_col: str, keep: str = "max"
) -> DataFrame:
    """Keep exactly one row per key: the one with the greatest (or least)
    ``order_col``.

    Reference D1: sort by (gtin_upc asc, fdc_id desc) +
    ``drop_duplicates(keep='first')``
    (usda_branded_food_data_pipeline.py:68-69). Compiled to a
    ``row_number`` window — deliberately NOT ``dropDuplicates``, which is
    order-nondeterministic (SURVEY §4 custom rule 2). One shuffle on the
    dedup key; at scale this is the minimal possible plan for the
    semantics.
    """
    order = F.col(order_col).desc() if keep == "max" else F.col(order_col).asc()
    w = Window.partitionBy(*key_cols).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup: canonical row per distinct content value.

    Hash-groupBy on md5(content) (cheap fixed-width shuffle key instead of
    the full text), keep the row with the smallest id. Partial
    aggregation makes this one shuffle of (hash, min_id) pairs — at
    100 TB the shuffle payload is 48 bytes/row regardless of document
    size.
    """
    return (
        df.withColumn("content_hash", F.md5(F.col(content_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- portable hashing helpers ---------------------------------------------
# md5 hex → integer, using only arithmetic both Spark and DuckDB share.
# Spark has conv(hex, 16, 10); DuckDB lacks conv, so the oracle rebuilds
# the same value by positional nibble arithmetic — 12 hex chars < 2^48
# stays exact in doubles and bigints on both engines.


def md5_int(col: Column, seed: int, nibbles: int = 12) -> Column:
    """Deterministic 48-bit integer hash of ``col`` under ``seed``,
    reproducible in ANSI SQL (see ``oracle_md5_int_sql``)."""
    h = F.md5(F.concat(F.lit(f"s{seed}:"), col))
    return F.conv(F.substring(h, 1, nibbles), 16, 10).cast("bigint")


def oracle_md5_int_sql(expr: str, seed: int, nibbles: int = 12) -> str:
    """DuckDB twin of :func:`md5_int` (no conv(): nibble arithmetic).

    Place values are integer shifts (16^k == 1 << 4k), not float pow —
    IEEE does not require ``pow`` to be correctly rounded, and the
    rotation gate bans it from oracle text (r07 verdict task 5); the
    all-integer form is exact by construction."""
    h = f"md5('s{seed}:' || ({expr}))"
    return (
        f"CAST(list_sum(list_transform(range(1, {nibbles + 1}), "
        f"i -> (strpos('0123456789abcdef', substr({h}, CAST(i AS INTEGER), 1)) - 1) "
        f"* (CAST(1 AS BIGINT) << (4 * ({nibbles} - i))))) AS BIGINT)"
    )


# shared Spark-default / oracle-literal cap — the five DuckDB twins
# interpolate this same constant via cap_bucket_qualify_sql, so changing
# it cannot desynchronize the engines
DEFAULT_MAX_BUCKET = 1024


class GuardStats:
    """AQE-safe guard telemetry for :func:`cap_bucket_size`.

    ``pyspark.sql.Observation.get`` crashes on AQE-planned queries in
    Spark 4.1.2 (``PythonSQLUtils.toPyRow`` assertion once the plan is
    re-planned at runtime) — exactly the production sessions where the
    degraded-block counters matter most. This variant skips the
    CollectMetrics node entirely: :func:`cap_bucket_size` hands it the
    slim keys-only occupancy frame, and reading ``.get`` runs ONE extra
    aggregate action over that projection (bucket keys + counts only —
    the heavy payload rows are never touched), which is an ordinary
    collect and therefore AQE-proof.

    Same reading contract as Observation: access ``stats.get`` for
    ``{guard_dropped_rows, guard_dropped_buckets, guard_max_bucket}``.
    Unlike Observation it can be read BEFORE any action on the guarded
    frame (it recomputes the counts from lineage), and re-reads refresh.

    A multi-level operator guards SEVERAL joins with one stats object
    (containment L1 index + L2 super-shingles, jaccard cold + hot
    triples): every attachment ACCUMULATES — ``get`` sums drops across
    all guarded frames and maxes the bucket high-water mark, so a
    later guard can never erase an earlier level's engagement (the
    pre-r09 last-wins behavior silently zeroed L1 telemetry whenever a
    healthy L2 guard attached after it).
    """

    def __init__(self) -> None:
        self._guards: list[tuple[DataFrame, int]] = []

    def _attach(self, counts: DataFrame, max_rows: int) -> None:
        self._guards.append((counts, max_rows))

    @property
    def get(self) -> dict[str, int]:
        if not self._guards:
            raise RuntimeError(
                "GuardStats not attached: pass it as cap_bucket_size(observation=...)"
            )
        total = {"guard_dropped_rows": 0, "guard_dropped_buckets": 0, "guard_max_bucket": 0}
        for counts, max_rows in self._guards:
            over = F.col("_bkt_n") > max_rows
            row = counts.agg(
                F.coalesce(
                    F.sum(F.when(over, F.col("_bkt_n")).otherwise(F.lit(0))), F.lit(0)
                ).alias("guard_dropped_rows"),
                F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0)).alias(
                    "guard_dropped_buckets"
                ),
                F.coalesce(F.max("_bkt_n"), F.lit(0)).alias("guard_max_bucket"),
            ).collect()[0]
            total["guard_dropped_rows"] += row["guard_dropped_rows"]
            total["guard_dropped_buckets"] += row["guard_dropped_buckets"]
            total["guard_max_bucket"] = max(
                total["guard_max_bucket"], row["guard_max_bucket"]
            )
        return total


def cap_bucket_size(
    df: DataFrame,
    keys: list[str],
    max_rows: int,
    observation=None,
) -> DataFrame:
    """Oversized-bucket guard for pair-generating self-joins.

    Every blocked/bucketed dedup path emits O(k²) candidate pairs from a
    bucket of k rows; one hot bucket (template spam, a degenerate
    blocking key) turns a linear job quadratic — the r03 sf1 smoke
    measured 26×/19× time for 10× data on exactly this shape. The guard
    drops ALL rows of any bucket whose occupancy exceeds ``max_rows``
    BEFORE the self-join, bounding per-bucket work at max_rows². The
    filter is a deterministic function of bucket occupancy, so the
    DuckDB oracles mirror it exactly (``QUALIFY count(*) OVER
    (PARTITION BY keys) <= cap``) and value-parity holds at every scale,
    engaged or not. NULL bucket keys form a bucket of their own and are
    KEPT when under the cap (null-safe rejoin), matching the QUALIFY
    twin's NULL window partition — callers whose downstream self-join is
    null-rejecting drop them there, not here.

    Degradation is surfaced, not silent: pass either
    - a ``pyspark.sql.Observation`` — zero extra jobs; readable after
      the first action on the result, but NOT under AQE (Spark 4.1.2's
      ``Observation.get`` crashes on AQE-planned queries), or
    - a :class:`GuardStats` — AQE-safe; ``stats.get`` runs one cheap
      aggregate action over the keys-only occupancy projection.
    Both carry ``guard_dropped_rows``, ``guard_dropped_buckets`` and
    ``guard_max_bucket``.

    Shape: occupancy is counted on a KEYS-ONLY projection (map-side
    partial agg → one slim row per bucket), then inner-joined back —
    the payload rows (shingle arrays, embedding vectors) are never
    shuffled by the guard itself, and the join key equals the
    downstream self-join key so the exchange is reusable. A window
    count over the payload would shuffle every heavy row instead.
    """
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bkt_n"))
    if isinstance(observation, GuardStats):
        observation._attach(counts, max_rows)
    elif observation is not None:
        over = F.col("_bkt_n") > max_rows
        counts = counts.observe(
            observation,
            F.sum(F.when(over, F.col("_bkt_n")).otherwise(F.lit(0))).alias(
                "guard_dropped_rows"
            ),
            F.sum(F.when(over, 1).otherwise(0)).alias("guard_dropped_buckets"),
            F.max("_bkt_n").alias("guard_max_bucket"),
        )
    # null-safe rejoin: a plain equi-join on `keys` would silently drop
    # every NULL-key row regardless of bucket size, diverging from the
    # QUALIFY twin (which keeps the NULL partition when under cap).
    # EqualNullSafe is still an extractable equi-join key, so the join
    # stays hash/broadcast-plannable exactly like the plain form.
    keep = counts.filter(F.col("_bkt_n") <= max_rows).select(
        *[F.col(k).alias(f"_keep_{k}") for k in keys]
    )
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(keep[f"_keep_{k}"])
        cond = c if cond is None else cond & c
    return df.join(keep, cond).select(df["*"])


def cap_bucket_qualify_sql(keys: str, max_rows: int) -> str:
    """DuckDB twin of :func:`cap_bucket_size` as a QUALIFY clause."""
    return f"QUALIFY count(*) OVER (PARTITION BY {keys}) <= {max_rows}"


def tokenize(col: Column) -> Column:
    """Lower-cased whitespace tokens (empty tokens removed)."""
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != F.lit(""))


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """n-word shingles as strings; distinct.

    Built by zipping n shifted slices of the token array — each token is
    touched O(n) times. (The obvious transform-over-index-sequence with
    ``element_at`` re-evaluates the token array per lookup and is ~13×
    slower; measured at sf0.1.)
    """
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    acc = F.slice(tokens, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(tokens, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


# MinHash mixing: ONE md5 per shingle, then k cheap affine permutations
# h_k = (a_k·h + b_k) mod M — 16 md5 passes per shingle would dominate the
# signature cost (measured ~16×). M = 2^31-1; h < M and a_k ≤ 2n+3 keeps
# every product well inside int64 on any engine.
MINHASH_MOD = 2147483647


def _mix_params(k: int) -> tuple[int, int]:
    return 2 * k + 3, 7919 * (k + 1)


def minhash_base(shingles: Column) -> Column:
    """md5-derived base hash array, one value per shingle — materialize
    this ONCE in its own projection before fanning out to the k mixes:
    Spark's subexpression elimination skips expressions containing
    lambda variables, so inlining it into every mix re-runs the md5
    transform per hash function (k x the cost)."""
    return F.transform(shingles, lambda s: md5_int(s, 0) % MINHASH_MOD)


def minhash_signature(base: Column, num_hashes: int = 16) -> list[Column]:
    """MinHash signature: min-over-affine-mixes of the
    :func:`minhash_base` hash array. Each mix is an O(|shingles|)
    integer fold over the shared base column — pure codegen'd array
    expressions."""

    def mix(k: int) -> Column:
        # closure, not default args — PySpark counts lambda params
        a, b = _mix_params(k)
        return F.array_min(
            F.transform(base, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_MOD)
        )

    return [mix(k).alias(f"mh_{k}") for k in range(num_hashes)]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """MinHash + LSH candidate generation + exact Jaccard verification.

    shingle → minhash → band → bucket-join: docs sharing any band bucket
    become candidate pairs; candidates are verified with exact shingle
    Jaccard. At scale the only shuffles are (a) the band-bucket
    self-join key and (b) the final distinct — the classic
    Broder/LSH layout. Output: (id_a, id_b, jaccard) with
    jaccard >= threshold, id_a < id_b.

    Band buckets above ``max_bucket`` rows are dropped before the
    self-join (:func:`cap_bucket_size` — quadratic-pair backstop for
    template-spam buckets; the 4-band redundancy means a pair in one
    hot bucket can still surface from its other bands). Pass
    ``observation`` to read the degraded-bucket counters.

    ROUTING vs the exact prefix filter (r06 verdict task 6): this is
    the PROBABILISTIC-RECALL path — candidate recall follows the
    1-(1-s^r)^b curve (~98% at the defaults on the ×30
    fresh-vocabulary sweep: 7,652 of 7,800 pairs in 8.5s where
    :func:`jaccard_pairs_prefix` spent 202.5s for the full set (r07) —
    VOCAB_GROWTH.json), and its cost is b·r hashes per doc regardless
    of vocabulary overlap. Emitted pair VALUES are verified-exact;
    only which candidates surface is probabilistic. Route crawl-scale
    near-dup sweeps here; route contractual-recall dedup (benchmark
    decontamination, oracle parity) to :func:`jaccard_pairs_prefix`.
    """
    # the signature table feeds three plan branches (banding + two
    # candidate-verify attaches); persisted so shingling/hashing runs
    # once — at cluster scale this is a materialized intermediate table
    sig = _minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = cap_bucket_size(
        _minhash_bands(sig, num_hashes, bands), ["band", "bucket"], max_bucket, observation
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id_") < F.col("b.doc_id_")),
        )
        .select(F.col("a.doc_id_").alias("id_a"), F.col("b.doc_id_").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _jaccard_verified(cand, sig, sig, jaccard_threshold)


def _minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Owned (persisted) ``(doc_id_, shingles, mh_0..mh_{num_hashes-1})``
    signature table of the MinHash-LSH operators."""
    # testdata parquet is single-row-group → 1 scan task; spread the
    # expression-heavy shingle/hash work across the cluster first
    from ..sources.tables import spread

    return own(
        spread(df)
        .select(
            F.col(id_col).alias("doc_id_"),
            word_shingles(tokenize(F.col(text_col)), shingle_n).alias("shingles"),
        )
        .select("doc_id_", "shingles", minhash_base(F.col("shingles")).alias("_mhbase"))
        .select("doc_id_", "shingles", *minhash_signature(F.col("_mhbase"), num_hashes))
    )


def _minhash_bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a signature table to ``(doc_id_, band, bucket)``: band
    value = concat of its rows' minhashes. The banded rows carry ONLY
    these three columns — the shingle arrays stay out of the bucket-join
    shuffle."""
    rows_per_band = num_hashes // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id_", F.explode(band_cols).alias("bb")).select(
        "doc_id_", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _jaccard_verified(
    cand: DataFrame, sig_a: DataFrame, sig_b: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Verify ``(id_a, id_b)`` candidates with exact shingle Jaccard:
    re-attach each side's shingles to the (small) candidate set, then
    one fold per pair. Output ``(id_a, id_b, jaccard)``."""
    verified = cand.join(
        sig_a.select(F.col("doc_id_").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a"
    ).join(
        sig_b.select(F.col("doc_id_").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 1,
    threshold_den: int = 5,
    shingle_n: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    observation=None,
    hot_k: int = 8,
    hot_min_shared: int = 2,
    ext_l: int = 5,
    hash_seed: int = 29,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard at threshold ``tn/td`` via
    content-based blocking: the AllPairs ℓ-extended rarest-shingle
    prefix filter (Adapt-Join, Wang et al. SIGMOD 2012), escalating
    over-cap shingles to sampled triple keys.

    Blocking on METADATA (lang × length bucket) degenerates as the
    corpus grows: at 10× scale every block blew past the guard cap and
    recall fell to zero. This operator blocks on CONTENT:

    0. shingle text NEVER shuffles (the dup_substring_spans contract):
       each doc's shingle set maps to distinct portable 48-bit
       ``md5_int`` codes inside the scan, and every downstream exchange
       (df counts, prefix window, collision join, verify arrays)
       carries fixed-width bigints. A cross-doc hash collision merges
       the same two shingles in BOTH engines (the oracle hashes
       identically), so results stay bit-identical; the distortion
       probability is ~|sh|²/2⁴⁹ per doc — irrelevant next to the
       10-50× shuffle-width saving at corpus scale;
    1. count each shingle code's document frequency (df);
    2. order each doc's codes rarest-first (df asc, code asc) and keep
       the first ``|sh| - ceil(t·|sh|) + ℓ`` as its ℓ-EXTENDED PREFIX.
       Extension lemma (exact, any global order): if |a∩b| = o ≥ α,
       the i-th smallest common element (i ≤ ℓ) has at least o-i ≥ α-i
       commons after it in both docs, so it sits within position
       |x| - α + i ≤ |x| - α + ℓ of both — the first min(ℓ, α)
       commons ALL land inside both extended prefixes;
    3. LEVEL 1 (cold): prefix codes whose bucket (docs carrying them
       in-prefix) is ≤ ``max_bucket`` self-join directly; the collision
       stream is aggregated per pair into the collision count ``c``.
       By the extension lemma each of the pair's first min(ℓ, α)
       commons is either a cold collision (counted by c) or HOT in
       both prefixes (hotness is a global property of the code), so
       every qualifying pair satisfies
           c + min(H_a, H_b) ≥ min(ℓ, α),
       H_x = hot entries in x's extended prefix and
       α = ceil(t/(1+t)·(sz_a+sz_b)) — the candidate filter. It is a
       COUNT requirement, not a positional bound: r06's positional
       bound kept every pair with one early rare collision (suffix
       tail ≈ sz ≫ α), 4.6M candidates for 260 true pairs at sf0.1;
       requiring ℓ=5 independent prefix commons keeps 2.15M. (The
       r11-opt round swept ℓ: raising it cuts candidates hard at the
       genuine-corpus scales — 0.65×/0.45× wall at sf0.1/sf1 with
       bit-identical output — but in the sf3 mass-duplication regime
       ANY ℓ>5 pushes borderline codes over the bucket cap, loses
       959 L2-dependent pairs of 2.4M, and runs SLOWER because the
       longer prefixes feed the hot path; ℓ stays 5 and the verify
       cost is attacked with the lossless bitmap pre-filter below.)
       Complete for every pair sharing ≥ 1 cold prefix code;
       rarity-first ordering keeps most buckets cold;
    4. LEVEL 2 (hot): over-cap codes are NOT dropped — each doc
       re-keys its hot prefix codes by CONSECUTIVE (rarity-ordered)
       triples ``(s_i, s_{i+1}, s_{i+2})``, keeps the ``hot_k``
       triples with the smallest portable hash (a bottom-k sketch:
       content-keyed and alignment-free, so near-identical docs select
       near-identical triple subsets), and emits pairs sharing at
       least ``hot_min_shared`` selected triples. The triple keyspace
       is a product space, so bucket occupancy stays data-bounded even
       when the vocabulary is tiny relative to the corpus (the regime
       where every single-shingle bucket is hot by pigeonhole — e.g.
       mass-replicated template corpora); bottom-k + the ≥2-shared
       bar keep the candidate stream near the true-pair count there.
       The level is heuristic-recall (a pair sharing exactly one hot
       code and no cold one can be missed) but bounded. Triple buckets
       above the cap — genuine mass duplication, whose true pair
       output is itself quadratic — are dropped by
       :func:`cap_bucket_size` and surfaced via ``observation``.
    5. candidates from both levels union, dedupe, and verify with
       exact set intersection over the bigint code arrays
       (``array_intersect`` — int equality, ~8-byte elements).

    The threshold is a rational ``tn/td`` and every pruning comparison
    (prefix length, size compatibility, the count filter, the final
    Jaccard test) is exact integer arithmetic — no float-ceil
    divergence between engines.

    Scale shape: all shuffles are linear in the exploded code count
    (df agg, df join, per-doc window, occupancy join, candidate joins,
    two verify joins) and carry bigints, never text; the per-pair
    aggregation exchange carries exactly (id_a, id_b) — per-doc
    constants (sz, H) join back AFTER aggregation from a docs-sized
    broadcast. The quadratic term is confined to per-bucket candidate
    products bounded by max_bucket² per key at both levels.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ tn/td.

    ROUTING vs MinHash-LSH (r06 verdict task 6): this is the
    EXACT-RECALL path — every qualifying pair, guaranteed, at a cost
    that tracks prefix-collision density. On the ×30 fresh-vocabulary
    sweep (VOCAB_GROWTH.json) it spends ~24× MinHash-LSH's time for
    ~2% more pairs (7,800 vs 7,652 in 202.5s vs 8.5s, r07 re-measure): fresh vocabulary
    keeps every bucket cold, so the exact path pays the full collision
    stream while the bands pay b·r hashes. Choose this operator when
    recall is contractual (decontamination, legal-grade dedup, oracle
    parity); choose :func:`minhash_lsh_pairs` for crawl-scale sweeps
    where ~98% probabilistic recall is acceptable — its pair VALUES
    are verified-exact too, only candidate recall is probabilistic.
    """
    from pyspark.sql import Window

    from ..sources.tables import spread

    tn, td = threshold_num, threshold_den
    sh_t = spread(df).select(
        F.col(id_col).alias("doc_id_"),
        F.array_distinct(
            F.transform(
                word_shingles(tokenize(F.col(text_col)), shingle_n),
                lambda x: md5_int(x, hash_seed),
            )
        ).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    # feeds the df-count, the prefix build, and both verify attaches —
    # materialize once (at cluster scale: an intermediate table)
    sh_t = own(sh_t)

    ex = sh_t.select("doc_id_", "sz", F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df_n"))
    # ℓ-extended prefix length |sh| - ceil(t·|sh|) + ℓ, exact integers
    p_len = F.col("sz") - F.expr(f"(sz * {tn} + {td} - 1) DIV {td}") + ext_l
    w = Window.partitionBy("doc_id_").orderBy("df_n", "s")
    prefix = (
        ex.join(dfreq, "s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= p_len)
        .select("doc_id_", "sz", "s", "df_n", "_rn")
    )
    # prefix-bucket occupancy (slim keys-only agg, the cap_bucket_size
    # shape) decides cold (complete self-join) vs hot (pair re-key).
    # persist: the cold and hot branches each self-join this table —
    # without it every join side replays shingling + df + window (the
    # unpersisted form measured ~2× wall-clock at sf0.1)
    occ = prefix.groupBy("s").agg(F.count(F.lit(1)).alias("_occ"))
    withocc = own(
        prefix.join(occ, "s")
        .withColumn("_hot", (F.col("_occ") > max_bucket).cast("long"))
    )
    # per-doc constants for the candidate filter: size + hot-entry
    # count. One slim row per doc, joined back onto the AGGREGATED pair
    # stream — never carried through the collision exchange. Join
    # strategy is left to AQE: at bench scales this is a broadcast; at
    # corpus scale the docs side outgrows broadcast and the exchange is
    # still pair-table-sized, a rounding error next to the collision
    # stream it replaced.
    dstats = withocc.groupBy("doc_id_").agg(
        F.max("sz").alias("sz"), F.sum("_hot").alias("_H")
    )
    cold = withocc.filter(F.col("_occ") <= max_bucket)
    hot = withocc.filter(F.col("_occ") > max_bucket)

    # lossless size filter: jaccard >= t forces t·|b| <= |a| <= |b|/t
    def compat():
        return (
            (F.col("a.doc_id_") < F.col("b.doc_id_"))
            & (F.col("a.sz") * td >= F.col("b.sz") * tn)
            & (F.col("b.sz") * td >= F.col("a.sz") * tn)
        )

    pair_sel = [F.col("a.doc_id_").alias("id_a"), F.col("b.doc_id_").alias("id_b")]
    a, b = cold.alias("a"), cold.alias("b")
    # repartition the collision stream by PAIR before aggregating: a
    # pair has only a handful of collisions, so map-side partial
    # aggregation combines almost nothing yet builds a hash map over
    # every pair its task sees — at sf0.1 that's 28M collisions / 9M
    # distinct pairs and the partial agg spill-sorted every task (heap
    # OOM on the spill-read buffers under default memory). Hash
    # partitioning on (id_a, id_b) satisfies the groupBy's clustering
    # requirement, so Catalyst runs ONE exchange-free hash aggregate
    # whose per-task map holds only that partition's pairs — and the
    # exchanged rows are exactly two bigints.
    g1 = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & compat())
        .select(*pair_sel)
        .repartition("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    sa = dstats.select(
        F.col("doc_id_").alias("id_a"), F.col("sz").alias("sz_a"), F.col("_H").alias("_H_a")
    )
    sb = dstats.select(
        F.col("doc_id_").alias("id_b"), F.col("sz").alias("sz_b"), F.col("_H").alias("_H_b")
    )
    # candidate filter (extension lemma, step 3): a qualifying pair has
    # c + min(H_a, H_b) ≥ min(ℓ, α). X ≥ α = ceil(y/(tn+td)) ⟺
    # X·(tn+td) ≥ y in exact integers; the ℓ arm handles α ≥ ℓ, the α
    # arm handles tiny docs where α < ℓ.
    lhs = F.col("_c") + F.least("_H_a", "_H_b")
    alpha_num = (F.col("sz_a") + F.col("sz_b")) * tn
    cand1 = (
        g1.join(sa, "id_a")
        .join(sb, "id_b")
        .filter((lhs >= ext_l) | (lhs * (tn + td) >= alpha_num))
        .select("id_a", "id_b")
    )

    # consecutive TRIPLES, not pairs: on a low-entropy vocabulary the
    # pair keyspace is still too coarse — at sf1 pair keys produced 81M
    # distinct candidates for 250k true pairs (verify-bound, 103s);
    # triple keys cut that to 3.3M. Then bottom-k sample the triples by
    # portable hash: selection is a pure function of triple CONTENT, so
    # near-identical docs pick near-identical subsets (alignment-free,
    # unlike stride/position sampling), and requiring >= hot_min_shared
    # selected triples kills the one-stray-shared-triple cross-cluster
    # pairs that dominate the raw stream (sf3: 122M raw collisions /
    # 30M distinct pairs -> 2.4M candidates at 99% precision).
    w2 = Window.partitionBy("doc_id_").orderBy("df_n", "s")
    wk = Window.partitionBy("doc_id_").orderBy("_h", "s", "s2", "s3")
    hotp = (
        hot.withColumn("s2", F.lead("s", 1).over(w2))
        .withColumn("s3", F.lead("s", 2).over(w2))
        .filter(F.col("s3").isNotNull())
        .withColumn("_h", md5_int(F.concat_ws("\x1f", "s", "s2", "s3"), 21))
        .withColumn("_kr", F.row_number().over(wk))
        .filter(F.col("_kr") <= hot_k)
        .select("doc_id_", "sz", "s", "s2", "s3")
    )
    hotp = cap_bucket_size(hotp, ["s", "s2", "s3"], max_bucket, observation)
    ha, hb = hotp.alias("a"), hotp.alias("b")
    cand2 = (
        ha.join(
            hb,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.s2") == F.col("b.s2"))
            & (F.col("a.s3") == F.col("b.s3"))
            & compat(),
        )
        .select(*pair_sel)
        # same exchange-free aggregate trick as the cold side: count
        # shared selected triples per pair co-located, then gate
        .repartition("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_t"))
        .filter(F.col("_t") >= hot_min_shared)
        .select("id_a", "id_b")
    )

    # both candidate branches are distinct (groupBy outputs).
    # Cross-level duplicates (a pair with both a cold collision and
    # shared hot triples) are NOT deduped here — deduping the few
    # verified survivors afterward is free, while a global
    # dropDuplicates would re-shuffle the full multi-million-row
    # candidate stream.
    cand = cand1.unionByName(cand2)
    # exact verification: re-attach the two shingle arrays and fold
    # array_intersect. Measured (in-session A/B, sf0.1, identical 7.7M
    # candidates): 10.3s vs 33.9s for the inverted-index co-count shape
    # — joining candidates back to the exploded index multiplies every
    # candidate row by its shingle count (~100×) before the count agg,
    # which costs more than shuffling two array payloads per candidate.
    verified = cand.join(
        sh_t.select(F.col("doc_id_").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")),
        "id_a",
    ).join(
        sh_t.select(F.col("doc_id_").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # the threshold test reuses the _i COLUMN: writing the union as
    # (sz_a + sz_b - inter) re-expanded a second array_intersect into
    # the filter expression — r11 opt round measured the verify stage
    # paying the per-pair set intersection twice
    union = F.col("sz_a") + F.col("sz_b") - F.col("_i")
    return (
        verified.withColumn("_i", inter)
        # threshold test in exact integers; jaccard emitted as a double
        .filter(F.col("_i") * td >= union * tn)
        .select(
            "id_a",
            "id_b",
            (F.col("_i").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("_i"))).alias("jaccard"),
        )
        # cross-level candidate duplicates collapse here, on the tiny
        # verified output
        .dropDuplicates(["id_a", "id_b"])
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    shingle_n: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Train/test contamination screen: corpus documents sharing at
    least ``min_shared`` distinct word n-grams with any benchmark
    document (the standard decontamination step before training-data
    release).

    Scale shape: the benchmark side is small by nature (eval suites are
    thousands of docs, the corpus is billions) — its exploded shingle
    index is BROADCAST, so the corpus side streams through a map-side
    hash join with no shuffle of corpus data at all; the only shuffle
    is the (doc, bench) match-count aggregation over join hits.

    Returns (doc_id, bench_id, n_shared) for flagged pairs.
    """
    c = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(tokenize(F.col(text_col)), shingle_n)).alias("s"),
    )
    b = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(word_shingles(tokenize(F.col(bench_text_col)), shingle_n)).alias("s"),
    )
    return (
        c.join(F.broadcast(b), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # shingles are distinct per doc
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash_token_hashes(tokens: Column, bits: int = 16) -> Column:
    """md5-derived ``bits``-wide hash per distinct token (``bits`` must
    be a multiple of 4 — md5_int works in nibbles). Materialize ONCE in
    its own projection before the bit folds (the minhash_base rule:
    lambda-bearing expressions are excluded from Spark's subexpression
    elimination, so inlining re-runs the md5 transform per bit)."""
    if bits % 4 != 0:
        raise ValueError(f"bits={bits} must be a multiple of 4")
    return F.transform(
        F.array_distinct(tokens), lambda t: md5_int(t, 999, nibbles=bits // 4)
    )


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash fingerprint from the :func:`simhash_token_hashes` array.

    Bit i is set iff the count of hashes with bit i set exceeds half
    the token count.  Exact integer arithmetic throughout, so the SQL
    oracle (per-bit popcount folds) agrees bit for bit.

    Shape (r12 opt, guide §4.2): one Arrow-batched numpy vote count.
    The former spelling ran ``bits`` SEPARATE higher-order
    ``F.aggregate`` folds over the shared hash array — at 48 bits that
    is 48 interpreted lambda passes per document, measured as 2.5s of
    simhash_neardup's 4.8s at sf0.1 (hashes-only projection 0.66s →
    +fingerprint 3.16s); the numpy form computes all bit votes in one
    pass over the array (same-session A/B in OPTIMIZATION_r12.md §6).
    NULL and empty hash arrays produce fingerprint 0, exactly like the
    old expression (NULL votes fail the > test; empty arrays vote 0).
    """
    from pyspark.sql.functions import pandas_udf

    # the module uses postponed annotations, so the hints are spelled
    # against the module-level ``pandas`` import above
    @pandas_udf("long")
    def _fold(hs: pandas.Series) -> pandas.Series:
        import numpy as np
        import pandas as pd

        ar = np.arange(bits, dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        for j, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue
            a = np.asarray(h, dtype=np.int64)
            votes = ((a[:, None] >> ar) & np.int64(1)).sum(axis=0)
            out[j] = int(((votes * 2 > len(a)).astype(np.int64) << ar).sum())
        return pd.Series(out)

    return _fold(hashes)


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-document SimHash fingerprint table (near-dup docs get close
    fingerprints; pair generation = group by fingerprint bands)."""
    from ..sources.tables import spread
    df = spread(df)
    return df.select(
        F.col(id_col).alias("doc_id"),
        simhash_token_hashes(tokenize(F.col(text_col)), bits).alias("_sh"),
    ).select("doc_id", simhash_from_hashes(F.col("_sh"), bits).alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """Manku et al. (WWW 2007) SimHash near-duplicate detection: pairs
    of documents whose ``bits``-wide SimHash fingerprints differ in at
    most ``max_hamming`` bits, found by PIGEONHOLE banding — split the
    fingerprint into ``bands`` disjoint blocks; two fingerprints within
    Hamming distance ``max_hamming < bands`` must agree EXACTLY on at
    least one block, so an equi-join per block finds every qualifying
    pair (complete, not probabilistic — unlike MinHash banding, whose
    recall is the 1-(1-s^r)^b curve, the pigeonhole bound is a
    theorem).

    Contrast with the other dedup family members: Jaccard operators
    compare shingle SETS (order-free content overlap); SimHash distance
    tracks weighted token-frequency similarity in O(1) state per doc —
    the fingerprint table is 8 bytes/doc, so at 100 TB the banding join
    exchanges ``bands`` bigint keys per doc and nothing else, and the
    verify step needs only the two fingerprints (no shingle arrays, no
    text).  Candidate volume concentrates in hot blocks when many docs
    share a 12-bit block value; ``cap_bucket_size`` guards those (the
    standard quadratic backstop, drops reported via ``observation``).

    Requires ``bands * (bits // bands) == bits`` and
    ``max_hamming < bands``.  Output: (id_a, id_b, hamming int),
    id_a < id_b.
    """
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    r = bits // bands
    mask = (1 << r) - 1
    from ..sources.tables import spread

    fp = own(
        spread(df)
        .select(
            F.col(id_col).alias("doc_id_"),
            simhash_token_hashes(tokenize(F.col(text_col)), bits).alias("_sh"),
        )
        .select("doc_id_", simhash_from_hashes(F.col("_sh"), bits).alias("fp"))
    )
    banded = fp.select(
        "doc_id_",
        "fp",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("fp", r * b).bitwiseAND(F.lit(mask)).alias("val"),
                )
                for b in range(bands)
            ])
        ).alias("bv"),
    ).select("doc_id_", "fp", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    banded = cap_bucket_size(banded, ["band", "val"], max_bucket, observation)
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id_") < F.col("b.doc_id_")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.doc_id_").alias("id_a"),
            F.col("b.doc_id_").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        # a close pair can collide in several bands; dedupe the small
        # verified output, never the raw collision stream
        .dropDuplicates(["id_a", "id_b"])
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    max_iter: int = 100,
) -> DataFrame:
    """Connected components: the cluster step of a near-dup pipeline
    (pairs → clusters → one canonical doc per cluster).

    Iterative min-label propagation: each round every node takes
    min(own label, neighbors' labels); converges in O(component
    diameter) rounds — near-dup components are shallow in practice, and
    one join+group per round is the cheapest loop body. The driver loop
    only checks a changed-count per round (an aggregate, not a collect
    of data). A component whose diameter needs more than ``max_iter``
    rounds raises ``RuntimeError``.

    Singleton nodes keep their own id.

    Returns (node, component) where component = min node id reachable.
    """
    # persist the edge list: every iteration joins against it, and its
    # lineage (e.g. a full MinHash pipeline) must not replay per round
    und = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    # Iterate ONLY over nodes that touch an edge — in a near-dup setting
    # that's a tiny fraction of the corpus; singletons are trivially
    # their own component and get attached after the loop, never paying
    # per-iteration join cost.
    labels = (
        und.select(F.col("src").alias("node")).distinct().withColumn(
            "component", F.col("node")
        )
    )
    def propagate(lbls: DataFrame) -> DataFrame:
        neighbor_min = (
            und.join(lbls, und.dst == lbls.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("nmin"))
        )
        return lbls.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nmin", F.col("component"))
            ).alias("component"),
            (F.col("nmin") < F.col("component")).alias("_changed"),
        )

    converged = False
    # localCheckpoint: propagate() references the previous labels
    # twice, so plain persist still doubles the logical plan per
    # round and Catalyst re-optimization cost compounds; truncating
    # lineage keeps every round O(1) planning work. Each round frees
    # the generation it supersedes, so storage stays one generation
    # flat; the last one belongs to the query run.
    gen = None
    try:
        for _ in range(max_iter):
            new_gen = checkpoint(propagate(labels))
            if gen is not None:
                release(gen)
            gen = new_gen
            changed = gen.filter(F.col("_changed")).limit(1).count()
            labels = gen.drop("_changed")
            if changed == 0:
                converged = True
                break
    finally:
        und.unpersist()
    if not converged:
        # silent non-convergence would return WRONG components (and
        # mismatch the exact recursive-CTE oracle) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds; "
            "raise max_iter (rounds needed = longest component's diameter)"
        )
    # singletons: component = own id
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def minhash_lsh_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    observation=None,
    observation_right=None,
) -> DataFrame:
    """Cross-table MinHash-LSH: near-dup pairs between two corpora (one
    doc from each side), same banding scheme as :func:`minhash_lsh_pairs`
    but an A×B bucket join instead of a self-join — the candidate step of
    incremental dedup. Output: (id_a from left, id_b from right, jaccard
    >= threshold).

    Each side's band buckets are capped at ``max_bucket`` rows
    (:func:`cap_bucket_size`), bounding the per-bucket A×B product at
    max_bucket² — same backstop as the self-join path."""
    sig_a = _minhash_signatures(left, id_col, text_col, num_hashes, shingle_n)
    sig_b = _minhash_signatures(right, id_col, text_col, num_hashes, shingle_n)
    banded_a = cap_bucket_size(
        _minhash_bands(sig_a, num_hashes, bands), ["band", "bucket"], max_bucket, observation
    )
    banded_b = cap_bucket_size(
        _minhash_bands(sig_b, num_hashes, bands), ["band", "bucket"], max_bucket,
        observation_right,
    )
    cand = (
        banded_a
        .alias("a")
        .join(
            banded_b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.doc_id_").alias("id_a"), F.col("b.doc_id_").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _jaccard_verified(cand, sig_a, sig_b, jaccard_threshold)


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Delta dedup for continuously-ingested corpora: drop incoming docs
    that duplicate the EXISTING corpus — exact (content hash anti-join)
    or near (cross-table MinHash-LSH at ``jaccard_threshold``) — and
    return the surviving incoming rows. Internal dedup of the incoming
    batch stays the batch operators' job (exact_dedup / clustering).

    Scale shape: the existing side contributes only a distinct-hash set
    and a signature/band table (both tiny next to its text); incoming
    text never joins against existing text — candidates verify through
    shingle arrays re-attached per side. This is the operational mode at
    100 TB: signatures of the accumulated corpus persist as a table and
    each ingest batch runs this plan against them.
    """
    from ..sources.tables import spread

    ex_hashes = existing.select(
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("_h")
    ).distinct()
    # spread before the anti-join: AQE turns it into a broadcast join,
    # which keeps incoming's partitioning, and the spread() in the cross
    # join keeps a shuffled plan as it is
    no_exact = (
        spread(incoming).withColumn("_h", F.md5(F.encode(F.col(text_col), "UTF-8")))
        .join(ex_hashes, "_h", "left_anti")
        .drop("_h")
    )
    near = minhash_lsh_pairs_cross(
        existing,
        no_exact,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
    )
    matched = near.select(F.col("id_b").alias(id_col)).distinct()
    return no_exact.join(matched, id_col, "left_anti")


def containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_n: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    observation=None,
    ext_l: int = 3,
    hash_seed: int = 29,
    hot_k: int = 8,
    hot_min_shared: int = 2,
) -> DataFrame:
    """Asymmetric set-containment join: all ordered pairs (a, b), a≠b,
    with ``|Sa ∩ Sb| / |Sa| ≥ tn/td`` over n-gram shingle sets — "a is
    mostly inside b".  The asymmetric sibling of
    :func:`jaccard_pairs_prefix`: Jaccard misses a short document
    quoted inside a long one (the union term swamps it), which is
    exactly the wrapper-page / quotation / boilerplate-inclusion case
    a curation pipeline must catch (SSJoin-family containment
    semantics, Chaudhuri et al. ICDE 2006).

    Candidate generation is the ℓ-EXTENDED containment prefix filter
    (the jaccard_pairs_prefix lemma, one-sided): with α = ceil(t·|Sa|)
    required overlap, the i-th rarest common element (global (df,
    code) order) has ≥ α − i commons after it in a's order, so for
    i ≤ ℓ it sits inside a's first ``|Sa| − α + ℓ`` codes.  The
    extended prefix (rare-first, portable 48-bit codes — text never
    shuffles) joins the FULL inverted index on the b side; containment
    cannot prefix-filter the container.  Each of the first min(ℓ, α)
    commons is therefore either a counted collision or a code whose
    index bucket is over ``max_bucket`` (hotness is a global property
    of the code), giving the lossless count filter
    ``c + H_a ≥ min(ℓ, α)`` with H_a = hot codes in a's extended
    prefix.  Over-cap index buckets are dropped by
    :func:`cap_bucket_size` with guard counters (reported via
    ``observation``, never silent).  The size filter
    ``sz_b·td ≥ sz_a·tn`` (⟺ |Sb| ≥ α) is lossless.

    LEVEL 2 (hot escalation — r08 verdict task 6): a pair ALL of whose
    first min(ℓ, α) commons are hot generates no level-1 collision row
    at all; by the lemma such an ``a`` has ``H_a ≥ min(ℓ, α)``, which
    is exactly the escalation eligibility.  Eligible contained-side
    docs re-key by (n+2)-gram SUPER-SHINGLES (positional, scan-local)
    and keep the ``hot_k`` smallest codes (bottom-k by code value —
    content-keyed and alignment-free, so a quoted span selects the
    same codes in both documents); the container side filters its own
    super-shingles against the broadcast of those selected codes
    INSIDE the scan (broadcast hash join — the b-side exchange carries
    only matches), and pairs sharing ≥ ``hot_min_shared`` selected
    codes become candidates.  Super-shingles rarify super-linearly
    (df of an (n+2)-gram ≤ df of its constituent n-grams), so the
    keyspace stays data-bounded in the mass-replication regime where
    every single code is hot by pigeonhole.  The level is
    heuristic-recall for CONTIGUOUS inclusion (quotation / wrapper /
    boilerplate — the case the operator exists for); a containment
    realized only as scattered isolated shingles can still be missed,
    and super-shingle buckets above the cap (mass duplication whose
    true pair output is itself quadratic) are dropped and REPORTED via
    the same guard.  Escalation is decided at plan-build by a
    cheapest-first two-stage probe (any-hot-code df aggregate — whose
    sh_t materialization the main job reuses from cache — then the
    doc-level eligibility pass only behind it), so corpora with
    healthy prefixes (guard at 0 through sf0.1) keep the L1-only
    output plan and pay one aggregate; exact verification makes L2 a
    pure recall add with zero precision risk.

    Verification re-attaches both shingle arrays and tests
    ``|∩|·td ≥ tn·|Sa|`` in exact integers.  Output
    ``(id_a, id_b, containment)`` where containment = |∩|/|Sa|;
    mutual near-copies emit both directions.

    Scale shape: one df aggregate, one per-doc prefix window, one
    prefix⋈index join whose exchange is bounded by
    Σ_prefix-codes min(df, cap), pair-slim aggregation (repartition
    before groupBy — the exchange carries exactly (id_a, id_b)), two
    verify joins on the count-filtered candidates — all linear in the
    exploded code count, the jaccard_pairs_prefix contract.
    """
    from ..sources.tables import spread

    tn, td = threshold_num, threshold_den
    sh_t = spread(df).select(
        F.col(id_col).alias("doc_id_"),
        F.array_distinct(
            F.transform(
                word_shingles(tokenize(F.col(text_col)), shingle_n),
                lambda x: md5_int(x, hash_seed),
            )
        ).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    sh_t = own(sh_t)

    ex = sh_t.select("doc_id_", "sz", F.explode("sh").alias("s"))
    # NOT persisted: caching this vocab-sized aggregate replaces the
    # planner's broadcast of it in the prefix join with a cache scan
    # that measured 2× the whole query (13.2s vs 6.2s at sf0.1) — the
    # hot-code pre-gate below recomputes it once instead, off the
    # persisted sh_t
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df_n"))
    # ℓ-extended containment prefix: first sz - ceil(t·sz) + ℓ rarest
    # codes (in the FULL index, a code's bucket occupancy IS its df)
    p_len = F.col("sz") - F.expr(f"(sz * {tn} + {td} - 1) DIV {td}") + ext_l
    w = Window.partitionBy("doc_id_").orderBy("df_n", "s")
    exd = ex.join(dfreq, "s")
    prefix = (
        exd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= p_len)
        .select(
            "doc_id_",
            "sz",
            "s",
            (F.col("df_n") > max_bucket).cast("long").alias("_hot"),
        )
    )
    # H_a = hot codes in a's extended prefix (per-doc constant, joined
    # back onto the AGGREGATED pair stream — never through the
    # collision exchange)
    astats = prefix.groupBy("doc_id_").agg(
        F.max("sz").alias("sz_a"), F.sum("_hot").alias("_H_a")
    )
    # the container side is the full index, cap-guarded per code
    index = cap_bucket_size(
        exd.select("doc_id_", "sz", "s"), ["s"], max_bucket, observation
    )
    a, b = prefix.alias("a"), index.alias("b")
    g1 = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id_") != F.col("b.doc_id_"))
            # lossless size filter: |Sb| >= alpha(a)
            & (F.col("b.sz") * td >= F.col("a.sz") * tn),
        )
        .select(
            F.col("a.doc_id_").alias("id_a"), F.col("b.doc_id_").alias("id_b")
        )
        # slim pair exchange + exchange-free aggregate (the
        # jaccard_pairs_prefix trick)
        .repartition("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # lossless count filter: c + H_a >= min(l, alpha) — the l arm
    # handles alpha >= l, the alpha arm tiny docs where alpha < l
    lhs = F.col("_c") + F.col("_H_a")
    cand = (
        g1.join(
            astats.select(F.col("doc_id_").alias("id_a"), "sz_a", "_H_a"), "id_a"
        )
        .filter((lhs >= ext_l) | (lhs * td >= F.col("sz_a") * tn))
        .select("id_a", "id_b")
    )

    def verify(cands: DataFrame) -> DataFrame:
        joined = cands.join(
            sh_t.select(
                F.col("doc_id_").alias("id_a"),
                F.col("sh").alias("sh_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        ).join(
            sh_t.select(F.col("doc_id_").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        return (
            joined.withColumn("_i", inter)
            .filter(F.col("_i") * td >= F.col("sz_a") * tn)
            .select(
                "id_a",
                "id_b",
                (F.col("_i").cast("double") / F.col("sz_a").cast("double")).alias(
                    "containment"
                ),
            )
        )

    # LEVEL 2 (hot escalation — see docstring): only docs whose hot
    # prefix count reaches min(ℓ, α) can have a qualifying pair fully
    # suppressed by the index cap.  Two-stage plan-build probe, ordered
    # cheapest-first: the NECESSARY condition (any over-cap code at
    # all) is one df aggregate whose sh_t materialization is CACHED and
    # reused by the main job, so a healthy corpus pays only the
    # aggregate itself and keeps the L1-only output plan — persisting
    # astats or the verified output instead measured 1.3-3× the whole
    # query (caching pins the subtree's shuffle partitioning and blocks
    # AQE's runtime broadcast/coalesce re-planning; Spark leaves cached
    # plans static by default).  Only when hot codes exist does the
    # doc-level eligibility probe (one prefix-window pass) and then
    # possibly the L2 branch run.
    # single-pass existence aggregates, not filter().limit(1).count():
    # CollectLimit executes incrementally (1 → 4 → 16 … partitions,
    # spark.sql.limit.scaleUpFactor) and on the EMPTY result — the
    # healthy-corpus common case — re-runs the upstream aggregation
    # ~log₄(partitions) times, which showed up as multi-second
    # plan-build jitter in same-session bench repeats
    max_df_row = dfreq.agg(F.max("df_n").alias("m")).first()
    any_hot = max_df_row is not None and (max_df_row["m"] or 0) > max_bucket
    if not any_hot:
        return verify(cand)
    _elig_cond = F.col("_H_a") >= F.least(
        F.lit(ext_l).cast("long"),
        F.expr(f"(sz_a * {tn} + {td} - 1) DIV {td}"),
    )
    eligible = astats.filter(_elig_cond).select("doc_id_")
    n_elig_row = astats.agg(
        F.max(F.when(_elig_cond, 1).otherwise(0)).alias("m")
    ).first()
    if n_elig_row is None or (n_elig_row["m"] or 0) == 0:
        return verify(cand)

    sup = spread(df).select(
        F.col(id_col).alias("doc_id_"),
        F.array_distinct(
            F.transform(
                word_shingles(tokenize(F.col(text_col)), shingle_n + 2),
                lambda x: md5_int(x, hash_seed),
            )
        ).alias("ss"),
    )
    # bottom-k super-shingle codes per eligible contained-side doc:
    # the codes are already content hashes, so ordering by value IS
    # the content-keyed, alignment-free bottom-k sketch
    wk = Window.partitionBy("doc_id_").orderBy("s")
    a_sel = (
        sup.join(eligible, "doc_id_")
        .select("doc_id_", F.explode("ss").alias("s"))
        .withColumn("_kr", F.row_number().over(wk))
        .filter(F.col("_kr") <= hot_k)
        .select("doc_id_", "s")
    )
    # container side: filter super-shingles against the broadcast
    # of selected codes inside the scan (exchange carries matches
    # only), then cap genuinely mass-duplicated codes — reported
    b_sup = cap_bucket_size(
        sup.select("doc_id_", F.explode("ss").alias("s")).join(
            F.broadcast(a_sel.select("s").distinct()), "s"
        ),
        ["s"],
        max_bucket,
        observation,
    )
    cand2 = (
        a_sel.alias("ha")
        .join(
            b_sup.alias("hb"),
            (F.col("ha.s") == F.col("hb.s"))
            & (F.col("ha.doc_id_") != F.col("hb.doc_id_")),
        )
        .select(
            F.col("ha.doc_id_").alias("id_a"),
            F.col("hb.doc_id_").alias("id_b"),
        )
        .repartition("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_t"))
        .filter(F.col("_t") >= hot_min_shared)
        .select("id_a", "id_b")
    )
    # a pair found by both levels verifies twice; survivors are
    # output-sized, so the final dedup exchange is cheap
    return (
        verify(cand.unionByName(cand2)).dropDuplicates(["id_a", "id_b"])
    )
