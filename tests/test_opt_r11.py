"""Round-11 optimization invariants.

The optimization round may not change what any declared query computes;
these tests pin the operator-internal rewrites to their pre-rewrite
arithmetic directly (not only via the oracle gate):

- `_train_books_joint` (one round job for ALL IVFADC codebooks) must
  produce bit-identical codebooks to separate trainings of the coarse
  book and of the subspace books, which it replaced in `ivf_adc_topk`.
"""

from __future__ import annotations

import pytest

from usda_food_data_pipeline_spark.operators.kmeans import (
    _quantized,
    _train_books_joint,
)
from usda_food_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("kc,m,k,n_iter", [(8, 4, 16, 2), (5, 2, 7, 3)])
def test_joint_training_equals_separate(spark, kc, m, k, n_iter):
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    assert dim % m == 0
    w = dim // m
    pts = _quantized(emb, "vec_id", "embedding")

    coarse_sep = _train_books_joint(pts, "vec_id", [(0, kc, dim)], n_iter)
    fine_sep = _train_books_joint(
        pts, "vec_id", [(j * w, k, w) for j in range(m)], n_iter
    )

    joint = _train_books_joint(
        pts, "vec_id", [(0, kc, dim)] + [(j * w, k, w) for j in range(m)], n_iter
    )

    assert joint[0] == coarse_sep[0]
    assert joint[1:] == fine_sep
