"""Expression-only BPE encoder: the reference the Arrow encoder
(``functions.bpe.bpe_encode_arrow``) is pinned against; the
``bpe_encode_stats`` oracle SQL replays the same fold.

Per word: split to chars and fold every rule in training order with
``functions.bpe.merge_pair`` (greedy left-to-right, non-overlapping).
The merge table compiles into the plan, so it runs without a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.functions.bpe import merge_pair
from usda_food_data_pipeline_spark.operators.dedup import tokenize


def bpe_encode(text: Column, rules: list[tuple[int, str, str, str, int]]) -> Column:
    def encode_word(w: Column) -> Column:
        syms = F.split(w, "")
        for _, left, right, _, _ in rules:
            syms = merge_pair(syms, left, right)
        return syms

    return F.flatten(F.transform(tokenize(text), encode_word))
