"""Text embedding (SURVEY §2.7 V1).

The reference calls Pinecone's hosted ``multilingual-e5-large`` (dim
1024, utils/upload_data_to_pinecone.py:42-46). The engine ships a
deterministic hashing featurizer so the whole vector path is testable
offline: bucket tokens by md5 hash, count, L2-normalize. One function,
:func:`embed_vector`, defines it: the index build applies it per row
through the Arrow-batched ``pandas_udf`` of :func:`embed_text_batch`,
and retrieval calls it on the driver for the one query string (no
Python worker, no job). For a model-backed embedder, swap both for the
model with the same ``array<double>`` output.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

EMBED_SEED = 11


def embed_vector(text: str | None, dim: int = 64) -> list[float]:
    """Hashing featurizer: dim-bucket md5 counts of the lower-cased
    whitespace tokens, L2-normalized; the zero vector for NULL or
    token-free text."""
    # re.ASCII: split on ASCII whitespace only, as the engine's
    # tokenize (Java's \s) does; Python's default \s would also split
    # on U+00A0 etc.
    toks = [t for t in re.split(r"\s+", (text or "").strip().lower(), flags=re.ASCII) if t]
    counts = np.zeros(dim, dtype=np.float64)
    for t in toks:
        h = int(hashlib.md5(f"s{EMBED_SEED}:{t}".encode()).hexdigest()[:12], 16)
        counts[h % dim] += 1.0
    norm = float(np.sqrt((counts * counts).sum()))
    return (counts / norm).tolist() if norm > 0 else counts.tolist()


def embed_text_batch(dim: int = 64):
    """Arrow-batched pandas UDF of :func:`embed_vector`: one linear
    pass per batch, ``array<double>`` out."""

    @F.pandas_udf("array<double>")
    def _embed(s: pd.Series) -> pd.Series:
        return s.map(lambda text: embed_vector(text, dim))

    return _embed
