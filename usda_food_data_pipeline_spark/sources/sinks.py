"""Sinks (SURVEY §2.1 S5-S7).

- quoted CSV (reference ``to_csv(quoting=QUOTE_NONNUMERIC)``, :160)
- embedding index as parquet — the offline stand-in for the
  reference's Pinecone upsert loop (utils/upload_data_to_pinecone.py:13-85)
- the z-order (Morton) key behind the ``zorder_key_map`` query
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tables import spread


def write_quoted_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference S5: quote all non-numeric fields. Spark's nearest is
    ``quoteAll`` after string-casting the id columns the reference casts
    (:158); numeric columns stay unquoted only in pandas — we document
    the divergence and quote everything (stable for round-trip)."""
    df.write.mode(mode).option("header", True).option("quoteAll", True).csv(path)


def build_embedding_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    dim: int = 64,
) -> None:
    """Reference §3.2 made self-contained: embed + write a parquet
    'index' table instead of a network upsert, so correctness is
    checkable offline. The embedder is the deterministic featurizer
    (functions.embed.embed_vector, applied per row by embed_text_batch);
    swap in a model-backed pandas_udf in production.

    The index is written as at least one file per core: an input that
    :func:`.tables.spread` finds less parallel than
    ``defaultParallelism`` is spread first, so the embedding UDF runs
    on every core and each later top-k scan of the index scores in
    ``defaultParallelism`` tasks instead of one. An input that is
    already that parallel keeps its own layout."""
    from ..functions.embed import embed_text_batch

    (
        spread(df).select(
            F.col(id_col),
            embed_text_batch(dim)(F.col(text_col)).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(out_path)
    )


def zorder_key(cols: list, bounds: dict, bits: int = 16):
    """Z-order (Morton) interleave expression over 2+ numeric columns.

    Each column is min/max-scaled to a ``bits``-bit integer using the
    supplied ``bounds`` {col: (min, max)}, then the bits interleave
    round-robin (col0 gets bit 0, col1 bit 1, ...). Pure integer
    Catalyst expressions — no UDF — so the key computes inside the
    scan projection.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("z-ordering needs >= 2 columns")
    scaled = []
    for c in cols:
        lo, hi = (float(x) for x in bounds[c])
        span = (hi - lo) or 1.0
        v = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float(2**bits - 1))
        scaled.append(F.least(F.lit(2**bits - 1), F.greatest(F.lit(0), v.cast("long"))))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * n + j)
    return key


def zorder_bounds(df: DataFrame, cols: list) -> dict:
    """One tiny min/max aggregate -> {col: (min, max)} for
    :func:`zorder_key` (the oracle-checked ``zorder_key_map`` query)."""
    row = df.agg(
        *[m(c).alias(f"{agg}_{c}") for c in cols for agg, m in (("min", F.min), ("max", F.max))]
    ).first()
    return {c: (row[f"min_{c}"], row[f"max_{c}"]) for c in cols}
