"""End-to-end training-data preparation pipeline (the north-star
composite): quality gate → exact dedup → MinHash-LSH near-dup
clustering → canonical survivors.

This is what the engine exists for at 100 TB: every stage is a
previously-verified operator (functions.textstats, operators.dedup).
Building the plan runs eager jobs: the exact-dedup table is persisted
and counted, and the iterative clustering runs its rounds on the
(persisted) candidate-pair edge list, checkpointing each round. The
returned survivor plan reads those materializations; filters push into
the scan and the near-dup self-join only sees the quality-surviving
subset.

Stage map (all oracle-verified individually and, via the
``training_pipeline`` query, end-to-end):
  1. enrich: token count + quality score (text_tokens / text_quality)
  2. gate: quality >= q_min AND n_tokens >= t_min
  3. exact dedup: min doc_id per md5(text) (dedup_exact semantics)
  4. near-dup: MinHash(16)+LSH(4 band) pairs → connected components →
     keep doc_id == component (dedup_minhash_lsh + dedup_clusters)
  5. emit surviving documents with their stats
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import quality_score, token_count
from ..operators.dedup import connected_components, dedup_latest, minhash_lsh_pairs
from ..session import own
from ..sources.tables import load_table

QUALITY_MIN = 0.905
TOKENS_MIN = 30
MINHASH_PARAMS = dict(num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.2)


def training_pipeline(
    spark: SparkSession,
    sf_dir: str,
    quality_min: float = QUALITY_MIN,
    tokens_min: int = TOKENS_MIN,
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    enriched = docs.select(
        "doc_id", "lang", "text",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    gated = enriched.filter(
        (F.col("quality") >= quality_min) & (F.col("n_tokens") >= tokens_min)
    )

    # exact dedup: canonical (min doc_id) row per content hash.
    # `deduped` feeds THREE consumers (the LSH signature build, the CC
    # node list, and the survivor join) and Spark has no cross-branch
    # subplan CSE, so unpersisted each consumer re-runs the gate +
    # content-hash window over the full corpus text (r12 opt: 0.85×
    # same-session A/B; at scale this is 2 corpus text passes removed).
    deduped = own(
        dedup_latest(
            gated.withColumn("_h", F.md5("text")), ["_h"], "doc_id", keep="min"
        ).drop("_h")
    )
    deduped.count()

    pairs = minhash_lsh_pairs(deduped, "doc_id", "text", **MINHASH_PARAMS)
    components = connected_components(
        pairs, deduped.select(F.col("doc_id").alias("node")), "id_a", "id_b"
    )

    survivors = (
        deduped.join(components, deduped.doc_id == components.node)
        .filter(F.col("node") == F.col("component"))
    )
    return survivors.select("doc_id", "lang", "n_tokens", "quality")
