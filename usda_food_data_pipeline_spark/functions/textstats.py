"""Text-analysis functions for large-scale training-data pipelines:
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure Catalyst expressions (no UDFs) so they run JVM-side inside
whole-stage codegen, and every formula is reproducible in ANSI SQL for
the DuckDB oracle (registry_text).
"""

from __future__ import annotations

from types import MappingProxyType

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.dedup import md5_int, tokenize
from ..session import own

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language ID. Order matters: deterministic argmax tiebreak.
LANG_PROFILES = MappingProxyType({
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "los", "las", "y", "que", "es"),
    "fr": ("le", "la", "les", "et", "des", "un", "une", "est"),
})

PUNCT_CLASS = "[^.,;:!?]"
ALPHA_CLASS = "[^a-zA-Z]"
ROLLING_MOD = 2147483647
ROLLING_MULT = 31


def token_count(text: Column) -> Column:
    return F.size(tokenize(text))


def stopword_hits(tokens: Column, stopwords: tuple[str, ...]) -> Column:
    """Count of tokens (with repeats) found in the stopword list."""
    arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def lang_id(text: Column) -> Column:
    """Stopword-profile language classifier: the language whose profile
    hits the most tokens; 'und' (undetermined) when no profile hits.
    Ties resolve in LANG_PROFILES declaration order (first wins)."""
    return lang_id_tokens(tokenize(text))


def lang_id_tokens(toks: Column) -> Column:
    """:func:`lang_id` over a pre-tokenized column — lets callers that
    derive several signals share one tokenize() projection."""
    scores = {lang: stopword_hits(toks, words) for lang, words in LANG_PROFILES.items()}
    return lang_id_from_scores(scores)


def lang_id_from_scores(scores: dict[str, Column]) -> Column:
    """Argmax-with-declaration-order-ties CASE over per-language
    stopword-hit counts. Taking the scores as columns lets callers
    materialize each count once in a projection; inlined, every score
    expression is re-evaluated in ~|langs| CASE branches."""
    langs = list(LANG_PROFILES)
    expr = F.lit("und")
    # Build CASE from last to first so earlier languages win ties.
    for lang in reversed(langs):
        others_not_greater = [
            scores[lang] >= scores[o] for o in langs if langs.index(o) > langs.index(lang)
        ]
        others_strictly_less = [
            scores[lang] > scores[o] for o in langs if langs.index(o) < langs.index(lang)
        ]
        cond = scores[lang] > 0
        for c in others_not_greater + others_strictly_less:
            cond = cond & c
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: mix of alphabetic ratio,
    punctuation sparsity, and mean token length band. The exact formula
    is arbitrary but deterministic — identical expression tree in SQL."""
    return quality_score_parts(
        F.length(text),
        F.length(F.regexp_replace(text, ALPHA_CLASS, "")),
        F.length(F.regexp_replace(text, PUNCT_CLASS, "")),
        F.size(tokenize(text)),
    )


def quality_score_parts(
    n_chars: Column, alpha: Column, punct: Column, n_toks: Column
) -> Column:
    """:func:`quality_score` from precomputed length/token counts —
    the shared-projection variant (identical expression tree)."""
    # try_divide: empty/whitespace-only docs have 0 chars or 0 tokens,
    # and ANSI mode makes plain / throw — score becomes NULL instead
    alpha_ratio = F.try_divide(alpha.cast("double"), n_chars)
    punct_ratio = F.try_divide(punct.cast("double"), n_chars)
    mean_tok_len = F.try_divide(alpha.cast("double"), n_toks)
    band = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (
        F.lit(0.5) * alpha_ratio + F.lit(0.3) * (F.lit(1.0) - punct_ratio) + F.lit(0.2) * band
    )


def bag_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token bag (near-dup docs with reordered words collide)."""
    toks = F.array_sort(F.array_distinct(tokenize(text)))
    return F.md5(F.concat_ws(" ", toks))


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over the token stream:
    h = fold(h * 31 + md5_int(tok) mod p). Order-sensitive companion to
    :func:`bag_fingerprint`."""
    hashes = F.transform(tokenize(text), lambda t: md5_int(t, 7, nibbles=8))
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * ROLLING_MULT + h) % ROLLING_MOD,
    )


# PII patterns kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB oracle): character classes, bounded repeats — no lookaround.
# Replacement order matters: the id-number pattern is a substring shape
# of the phone pattern, so it runs first.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"\d{3}-\d{2}-\d{4}", "<ID>"),
    (r"\+?\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
)


def redact_pii(text: Column) -> Column:
    """Chained regexp_replace over the shared-syntax PII patterns —
    pure codegen'd expressions, no UDF; the standard scrub pass before
    training-data release."""
    out = text
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pack_sequences(
    df,
    token_col: str,
    order_col: str,
    max_tokens: int,
    part_col: str | None = None,
):
    """Assign each document to a training-sequence pack:
    ``pack_id = floor(cumsum_before(tokens) / max_tokens)`` over a
    deterministic ``order_col`` ordering (optionally per ``part_col``
    stream, e.g. per language).

    This is the window-expressible packing used at scale: one shuffle
    (the window partition), no sequential scan. A pack may overflow
    ``max_tokens`` by at most one document's tokens — the standard
    approximation; exact greedy packing is order-sequential and would
    serialize the corpus. Callers truncate or spill the tail doc
    downstream.

    ALWAYS pass ``part_col`` at scale (language, shard key): without it
    the cumulative window is a single global partition — fine for tests,
    a straggler at 100 TB.

    Returns df + (cum_before, pack_id).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(part_col) if part_col is not None else Window.partitionBy()
    ).orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    return df.withColumn("cum_before", cum_before).withColumn(
        "pack_id", F.floor(F.col("cum_before") / F.lit(max_tokens)).cast("long")
    )


def vocab_topk(df, text_col: str, k: int = 100):
    """Corpus vocabulary: global token frequencies, top-k with rank.

    explode → two-level aggregate (partial counts map-side, one shuffle
    on token) → TakeOrderedAndProject keeps a k-row heap per partition.
    The rank window runs AFTER the limit, over k rows on one partition —
    a constant-size step at any corpus scale. Total order is
    (count DESC, token ASC) so ranks are deterministic.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize

    toks = df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.select(F.row_number().over(w).alias("rank"), "token", "n")


def token_surprisal(df, id_col: str, text_col: str):
    """CCNet-style LM-perplexity proxy: per-document mean token
    self-information ``-avg(ln(n_tok / N))`` under the corpus's own
    unigram frequencies. Low surprisal = typical text, high = rare-token
    soup; the standard cheap stand-in for an LM perplexity quality gate
    when filtering crawl-scale corpora.

    Plan: explode -> token-count aggregate -> token-keyed equi-join back
    to occurrences -> per-doc aggregate. The token join is Zipf-skewed
    by nature ("the" carries billions of rows at corpus scale) — AQE
    skew-join splits those partitions; no row is wider than (id, token,
    count). ln(N) is folded in AFTER the per-doc aggregate, so the
    join never carries the corpus total.

    Cross-engine exactness (functions/portable_ln): per-token ln(n)
    values ride as 9-dp-grid INTEGER nanos from the portable chain, so
    the per-doc aggregate is an exact BIGINT sum — order-independent,
    unlike a float avg(ln(n)) whose summation order differs between
    engines. The mean and the 4-dp output snap are then fixed-form
    IEEE arithmetic over exact integers, identical everywhere.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize

    from .portable_ln import grid_nanos_col, literal_table, py_grid_nanos, py_ln_int

    spark = df.sparkSession
    toks = df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token"))
    # counts feeds the distinct-n collect and the occurrence join;
    # persist so the corpus is tokenized once
    counts = own(toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    n_total = int(toks.agg(F.count(F.lit(1))).collect()[0][0] or 0)
    # portable ln over the distinct count values, as exact grid nanos
    ln_tbl = literal_table(
        spark,
        [
            (c, py_grid_nanos(py_ln_int(c)))
            for c in sorted(int(r["n"]) for r in counts.select("n").distinct().collect())
        ],
        "n bigint, _ln_n_nanos bigint",
    )
    ln_n_total_nanos = py_grid_nanos(py_ln_int(n_total)) if n_total else 0
    per_doc = (
        toks.join(counts, "token")
        .join(F.broadcast(ln_tbl), "n")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_ln_n_nanos").alias("_sum_nanos"),
        )
    )
    # surprisal = lnN - mean(ln n) over the 9-dp grid, snapped to 4 dp:
    # (lnN_nanos·k - sum_nanos) is an exact BIGINT; one double division
    # and the floor snap mirror the oracle text op for op
    v = (
        (F.lit(ln_n_total_nanos) * F.col("n_tokens") - F.col("_sum_nanos"))
        .cast("double")
        / (F.col("n_tokens").cast("double") * F.lit(1000000000.0))
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        (grid_nanos_col(v, 4).cast("double") / F.lit(10000.0)).alias("surprisal"),
    )


def chunk_documents(df, id_col: str, text_col: str, chunk_tokens: int = 64, stride: int = 48):
    """RAG-prep chunking: split each document into overlapping token
    windows (size ``chunk_tokens``, step ``stride``) — the standard
    retrieval-indexing step between cleaning and embedding.

    Expression-only: tokenize once, explode a chunk-index sequence, and
    slice the token array per chunk — no UDF, no shuffle (the explode is
    scan-local; downstream embedding/indexing supplies its own
    partitioning). Chunk count per doc is 1 + max(0, ceil((n-C)/S)) via
    integer arithmetic so engines agree exactly; empty documents yield
    no chunks.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize

    c, s = int(chunk_tokens), int(stride)
    if c <= 0 or s <= 0:
        raise ValueError(f"chunk_tokens and stride must be positive, got {c}, {s}")
    if s > c:
        # stride beyond the window skips tokens and the chunk-count
        # formula would emit empty tail chunks — not a chunking, a
        # subsample; reject loudly instead of silently dropping text
        raise ValueError(f"stride ({s}) must be <= chunk_tokens ({c})")
    toks = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    last = F.expr(f"CAST(greatest(_n - {c} + {s} - 1, 0) DIV {s} AS INT)")
    chunks = (
        toks.filter(F.col("_n") > 0)
        .withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), last)))
        .withColumn("_chunk", F.slice("_toks", F.col("chunk_idx") * s + 1, c))
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.array_join("_chunk", " ").alias("chunk_text"),
        F.size("_chunk").alias("n_chunk_tokens"),
    )


def boilerplate_scrub(
    df,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 6,
    min_count: int = 3,
    max_broadcast_set: int = 2048,
):
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb dedup-at-
    chunk-granularity step): delete every non-overlapping
    ``chunk_tokens``-token chunk whose exact text occurs >= ``min_count``
    times across the corpus (headers, footers, license blurbs), and
    reassemble each document from its surviving chunks in order.

    The boilerplate set always comes from one map-side-combined count
    (the exchange carries (hash, partial_count) rows). The REBUILD
    strategy is then chosen by the set's measured size — the AQE move,
    made at the driver from a 1-number statistic:

    - |set| <= ``max_broadcast_set``: broadcast the sorted hash array;
      each doc drops chunks via a scan-local array filter. ZERO shuffle
      of document text; per-chunk cost is a bounded scan of the small
      array. This is the real-corpus case (true boilerplate is few
      distinct strings with high counts).
    - |set| larger (dup-dense corpora): per-chunk membership must be
      O(1), so chunks posexplode, LEFT-JOIN the hash set (hash join —
      AQE broadcasts it when it fits), and docs reassemble by sorting
      surviving (idx, chunk) structs per doc. Linear in corpus size,
      at the cost of one chunk-text exchange — without the switch the
      array scan is O(|set| x chunks), 30x+ superlinear at 10x data.

    Output: (id, clean_text, n_chunks, n_removed) for every document.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize
    from ..sources.tables import spread

    k = int(chunk_tokens)
    if k <= 0 or int(min_count) < 2:
        raise ValueError(f"need chunk_tokens > 0 and min_count >= 2, got {k}, {min_count}")
    df = spread(df)
    chunks_expr = chunk_array(tokenize(F.col(text_col)), k)
    # the chunk arrays feed both the boilerplate aggregate and the
    # rebuild pass; persist so tokenize+chunk runs once (the tf-idf
    # posting-list pattern — at warehouse scale this is a written
    # intermediate table, in-session a MEMORY_AND_DISK cache)
    chunked = own(df.select(F.col(id_col), chunks_expr.alias("_chunks")))
    bp_hashes = own(
        chunked.select(F.explode("_chunks").alias("_c"))
        .groupBy(F.md5("_c").alias("_h"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_h")
    )
    n_bp = bp_hashes.count()

    if n_bp <= max_broadcast_set:
        bp = bp_hashes.agg(F.sort_array(F.collect_list("_h")).alias("_bp"))
        # materialize the filtered array ONCE in its own projection: the
        # lambda re-hashes every chunk, and inlining it into both
        # clean_text and n_removed would double that work (CollapseProject
        # keeps non-cheap multi-use aliases in a separate project)
        kept = F.filter("_chunks", lambda c: ~F.array_contains("_bp", F.md5(c)))
        return (
            chunked.crossJoin(F.broadcast(bp))
            .select(
                F.col(id_col),
                F.size("_chunks").cast("long").alias("n_chunks"),
                kept.alias("_kept"),
            )
            .select(
                F.col(id_col),
                F.array_join("_kept", " ").alias("clean_text"),
                F.col("n_chunks"),
                (F.col("n_chunks") - F.size("_kept")).cast("long").alias("n_removed"),
            )
        )

    # large-set path: O(1) membership via hash join, indexed reassembly
    exploded = chunked.select(
        F.col(id_col),
        F.size("_chunks").cast("long").alias("n_chunks"),
        F.posexplode("_chunks").alias("_idx", "_c"),
    ).withColumn("_h", F.md5("_c"))
    flagged = exploded.join(
        bp_hashes.withColumn("_is_bp", F.lit(True)), "_h", "left"
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.first("n_chunks").alias("n_chunks"),
        F.sum(F.when(F.col("_is_bp"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("_is_bp").isNull(), F.struct(F.col("_idx"), F.col("_c")))
            )
        ).alias("_keep"),
    )
    rebuilt = rebuilt.select(
        F.col(id_col),
        F.array_join(F.transform("_keep", lambda s: s["_c"]), " ").alias("clean_text"),
        F.col("n_chunks"),
        F.col("n_removed"),
    )
    # zero-chunk docs have no exploded rows — restore them scan-side
    empties = chunked.filter(F.size("_chunks") == 0).select(
        F.col(id_col),
        F.lit("").alias("clean_text"),
        F.lit(0).cast("long").alias("n_chunks"),
        F.lit(0).cast("long").alias("n_removed"),
    )
    return rebuilt.unionByName(empties)


def chunk_array(toks, k: int):
    """Non-overlapping ``k``-token chunk strings from a token-array
    expression, built by zipping ``k`` shifted slices and keeping every
    k-th start (concat_ws skips the null padding on the short tail).

    This is the ONLY sanctioned chunk builder: the obvious
    transform-over-index-sequence re-evaluates the full token
    expression inside its per-element lambda — O(n²/k) per document
    (measured 40s→4s at sf1 on line_dedup_global), and fatal on real
    corpora with 10k-token pages. Here ``toks`` evaluates 2k times per
    row and each element is O(k). Slice lengths are size-based: a
    2^31-1 length constant overflows start+length inside the zip and
    silently empties the shifted arrays.
    """
    from pyspark.sql import functions as F

    _len = F.greatest(F.size(toks), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, _len).alias(f"c{j}") for j in range(k)]
    )
    starts = F.filter(zipped, lambda _, i: i % k == 0)
    return F.transform(
        starts, lambda s: F.concat_ws(" ", *[s[f"c{j}"] for j in range(k)])
    )


def dedup_intra_doc(df, id_col: str, text_col: str, chunk_tokens: int = 6):
    """Intra-document dedup: delete repeated non-overlapping
    ``chunk_tokens``-token chunks WITHIN each document (keep the first
    occurrence, preserve order) — the within-page repetition scrub
    (nav menus, retry spam) that complements corpus-level
    :func:`boilerplate_scrub`.

    Zero shuffle, zero UDF, zero joins: the chunk array rebuilds
    scan-locally and first-occurrence filtering is an index-aware
    array expression (element i survives iff its first position in the
    array is i) — per-row work only, embarrassingly parallel at any
    scale.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize

    k = int(chunk_tokens)
    if k <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {k}")
    chunks = chunk_array(tokenize(F.col(text_col)), k)
    step = df.select(F.col(id_col), chunks.alias("_chunks"))
    kept = F.filter("_chunks", lambda c, i: F.array_position("_chunks", c) == i + 1)
    return (
        step.select(F.col(id_col), F.size("_chunks").cast("long").alias("n_chunks"), kept.alias("_kept"))
        .select(
            F.col(id_col),
            F.array_join("_kept", " ").alias("clean_text"),
            F.col("n_chunks"),
            (F.col("n_chunks") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def bpe_pair_counts(df, text_col: str, k: int = 20):
    """One BPE-tokenizer-training iteration in-engine: corpus-wide
    counts of adjacent character pairs inside words, ranked — the
    aggregation a byte-pair-encoding trainer runs to pick its next
    merge (Sennrich et al.; GPT-2/SentencePiece lineage).

    Plan shape (the 100 TB contract): the exploded (word, char-pair)
    stream never shuffles raw — pairs pre-aggregate per task
    (map-side combine), so the one exchange carries (pair,
    partial_count) rows bounded by the pair alphabet, not corpus
    size. Top-k is a TakeOrderedAndProject heap. Pure expressions:
    split to chars via regex, zip the array against its own tail.

    Returns (pair, n) — the k most frequent merges, count-desc with a
    lexicographic tiebreak.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize

    words = df.select(F.explode(tokenize(F.col(text_col))).alias("_w"))
    chars = F.split(F.col("_w"), "")
    pairs = F.zip_with(
        F.slice(chars, 1, F.greatest(F.size(chars) - 1, F.lit(0))),
        F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0))),
        lambda a, b: F.concat(a, b),
    )
    return (
        words.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(k)
    )


def doc_repetition(df, id_col: str, text_col: str):
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.2): repeated n-grams are the strongest cheap predictor of
    boilerplate / spam / generation loops, and corpus curation drops
    documents whose repetition fractions exceed thresholds.

    Per document, over adjacent-token bigrams:
    ``n_bigrams``; the most frequent bigram (``top_bigram``,
    ``top_count``; ties by (count DESC, bigram ASC) — deterministic);
    ``top_frac`` = top_count/n_bigrams; ``dup_frac`` = fraction of
    bigram occurrences whose bigram repeats within the doc.  Documents
    with < 2 tokens carry no signal and are excluded.

    Plan: explode → (doc, bigram) count (map-side combine; the only
    corpus-sized exchange carries distinct pairs) → one per-doc
    aggregate + one WindowGroupLimit-pruned rank window.  Fractions are
    integer ratios evaluated in one correctly-rounded double division
    and snapped onto the 6-dp grid with floor math (portable_ln) —
    bit-identical cross-engine, no transcendental anywhere.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize
    from .dsir import _bigrams
    from .portable_ln import grid_nanos_col

    occ = df.select(
        F.col(id_col), F.explode(_bigrams(tokenize(F.col(text_col)))).alias("g")
    )
    # the (doc, bigram) count table feeds the rollup AND the top-1
    # window; persist so the corpus tokenizes once.
    cnt = own(occ.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c")))
    per = cnt.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("_dup"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c").desc(), F.col("g").asc())
    top = (
        cnt.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("g").alias("top_bigram"),
            F.col("c").cast("bigint").alias("top_count"),
        )
    )

    def frac(num, den):
        v = num.cast("double") / den.cast("double")
        return grid_nanos_col(v, 6).cast("double") / F.lit(1000000.0)

    return per.join(top, id_col).select(
        id_col,
        "n_bigrams",
        "top_bigram",
        "top_count",
        frac(F.col("top_count"), F.col("n_bigrams")).alias("top_frac"),
        frac(F.col("_dup"), F.col("n_bigrams")).alias("dup_frac"),
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A1.1.1) — the standard web-corpus rule
# table every large-scale text pipeline ships. Spelled as integer
# cross-multiplications so both engines compare exact integers, never
# float ratios.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3      # mean word length in [3, 10]
GOPHER_MAX_MEAN_LEN = 10
GOPHER_SYMBOL_NUM, GOPHER_SYMBOL_DEN = 1, 10     # (hash+ellipsis)/words <= 0.1
GOPHER_BULLET_NUM, GOPHER_BULLET_DEN = 9, 10     # bullet lines <= 90%
GOPHER_ELLIPSIS_NUM, GOPHER_ELLIPSIS_DEN = 3, 10  # ellipsis lines <= 30%
GOPHER_ALPHA_NUM, GOPHER_ALPHA_DEN = 4, 5        # words w/ alpha >= 80%
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document Gopher quality-rule table: one boolean per rule
    plus the conjunction, all from exact integer counts (word count,
    alphabetic chars, '#'/'...' symbols, bullet/ellipsis line
    fractions, alpha-word fraction, distinct-stopword floor).

    Everything is a scan-local Catalyst expression over one projection
    — no shuffle at all (the operator is a pure map), so it runs at
    input-scan speed on any corpus size and composes under any
    partitioning. Ratio rules compare via integer cross-multiplication
    (``10·bullets ≤ 9·lines``), never float division, so the SQL twin
    is bit-trivially exact.

    Reference analog: none; extends the §2 text-analysis family per the
    LLM-pipeline mandate (the quality-filter stage of Gopher/MassiveWeb,
    also used by RefinedWeb, Dolma, and FineWeb derivatives).
    """
    text = F.col(text_col)
    toks = tokenize(text)
    lines = F.split(text, "\n")
    n_words = F.size(toks)
    alpha = F.length(F.regexp_replace(text, ALPHA_CLASS, ""))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-") | F.ltrim(l).startswith("*"),
        )
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    base = df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        alpha.cast("long").alias("_alpha"),
        (n_hash + n_ellipsis.cast("long")).cast("long").alias("_sym"),
        n_lines.cast("long").alias("_nl"),
        bullet_lines.cast("long").alias("_bl"),
        ellipsis_lines.cast("long").alias("_el"),
        alpha_words.cast("long").alias("_aw"),
        stop_hits.cast("long").alias("_sh"),
    )
    nw = F.col("n_words").cast("long")
    rules = {
        "r_word_count": (nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS),
        "r_mean_word_len": (F.col("_alpha") >= GOPHER_MIN_MEAN_LEN * nw)
        & (F.col("_alpha") <= GOPHER_MAX_MEAN_LEN * nw),
        "r_symbol_ratio": F.col("_sym") * GOPHER_SYMBOL_DEN <= nw * GOPHER_SYMBOL_NUM,
        "r_bullet_lines": F.col("_bl") * GOPHER_BULLET_DEN
        <= F.col("_nl") * GOPHER_BULLET_NUM,
        "r_ellipsis_lines": F.col("_el") * GOPHER_ELLIPSIS_DEN
        <= F.col("_nl") * GOPHER_ELLIPSIS_NUM,
        "r_alpha_words": F.col("_aw") * GOPHER_ALPHA_DEN >= nw * GOPHER_ALPHA_NUM,
        "r_stopwords": F.col("_sh") >= GOPHER_MIN_STOPWORDS,
    }
    passed = None
    for c in rules.values():
        passed = c if passed is None else passed & c
    return base.select(
        id_col,
        "n_words",
        *[c.alias(n) for n, c in rules.items()],
        passed.alias("keep"),
    )


def dedup_lines_global(df, id_col: str, text_col: str, chunk_tokens: int = 2):
    """Corpus-level exact line dedup (C4 §2.1 / RefinedWeb line-dedup
    semantics): split every document into non-overlapping
    ``chunk_tokens``-token chunks, keep exactly ONE occurrence of each
    distinct chunk across the WHOLE corpus — the first in (doc, position)
    order — and reassemble documents from their surviving chunks.
    Complements :func:`dedup_intra_doc` (within-doc) and
    ``boilerplate_scrub`` (frequency-thresholded): this is the exact
    keep-first variant C4 applies to three-sentence spans.

    Plan shape (the 100 TB contract): one posexplode → one exchange
    keyed by the chunk string → per-chunk keep-first → one exchange
    back on the doc id for ordered reassembly. The keep-first is a
    rank-1 window, which Spark executes as WindowGroupLimit with a
    map-side partial pass, so the chunk exchange carries at most one
    surviving candidate per (partition, chunk) — near the distinct-
    chunk count, not the corpus chunk count. Chunks group by their
    exact text (short — k tokens), not a hash: collision-free by
    construction, no verify pass needed. Documents with zero tokens
    pass through with empty clean_text.

    Returns (id, clean_text, n_chunks, n_removed).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import tokenize

    k = int(chunk_tokens)
    if k <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {k}")
    # persist: both the posexplode side and the per-doc totals consume
    # this tokenize+chunk projection; without it the whole-corpus
    # tokenize chain evaluates twice
    base = own(
        df.select(F.col(id_col), chunk_array(tokenize(F.col(text_col)), k).alias("_chunks"))
    )
    exploded = base.select(
        id_col, F.posexplode("_chunks").alias("_pos", "_chunk")
    )
    w = Window.partitionBy("_chunk").orderBy(F.col(id_col), F.col("_pos"))
    kept = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_chunk"))),
                    lambda s: s["_chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("_n_kept"),
        )
    )
    totals = base.select(
        id_col, F.size("_chunks").cast("long").alias("n_chunks")
    )
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce("_n_kept", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


def token_entropy(df, id_col: str, text_col: str):
    """Per-document Shannon entropy of the unigram token distribution,
    in exact integer ln-nanos — the vocabulary-diversity / gibberish
    signal (a boilerplate page repeating one token scores ~0; natural
    prose scores near ln of its distinct-token count).

    Exact integer derivation (no floats in any compared value)::

        H = ln(n) - (sum_t c_t * ln(c_t)) / n

    with every ln evaluated PER ROW by the in-plan portable chain
    (:func:`..functions.portable_ln.ln_int_col` — bit-identical to the
    oracle's SQL chain by construction), snapped to BIGINT nanos, the
    weighted sum exact BIGINT, and the division integer ``DIV``
    (operands nonnegative, so truncation agrees across engines).  No
    driver collect anywhere — unlike the lm/dsir literal-table pattern,
    the argument domain here is per-row (token counts AND per-doc
    totals), which is exactly what ln_int_col exists for.

    Scale shape: one explode + (doc, token)-keyed count aggregate with
    map-side combine (the text_tokens exchange), then a doc-keyed sum.
    Zero-token documents carry no information and are excluded.

    Output: (id_col, n_tokens bigint, entropy_nanos bigint).
    """
    from .portable_ln import grid_nanos_col, ln_int_col

    occ = (
        df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # the snap expression is the portability contract — never inline it
    nano = lambda col: grid_nanos_col(ln_int_col(col))  # noqa: E731
    per_doc = occ.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * nano(F.col("c"))).alias("_s"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        (nano(F.col("n_tokens")) - F.expr("_s DIV n_tokens")).alias("entropy_nanos"),
    )
