"""Round-12 optimization invariants.

The optimization round may not change what any declared query computes;
these tests pin the operator-internal rewrites to their pre-rewrite
arithmetic directly (not only via the oracle gate):

- `_train_cents` (plain k-means) moved from its pandas_udf-assign +
  JVM-element_at-aggregate round shape to the mapInPandas-partials
  shape, as the one-full-width-book case of `_train_books_joint`;
- PQ subspace codebooks train through `_train_books_joint` (ADVICE r11,
  low: two trainers duplicated the seeding/argmin/update/carry-over
  rules).

Both are pinned here against an INDEPENDENT driver-side pure-numpy
Lloyd reference that re-implements the documented arithmetic contract
(floor-quantized inputs, lowest-id seeds, first-minimum integer argmin,
round-half-up integer centroid update, empty-cluster carry-over) from
scratch — not against the old Spark code, so a shared bug cannot hide.
"""

from __future__ import annotations

import numpy as np
import pytest

from usda_food_data_pipeline_spark.operators.kmeans import (
    GRID,
    _quantized,
    _train_books_joint,
    _train_cents,
)
from usda_food_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def xq_rows(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = _quantized(emb, "vec_id", "embedding").collect()
    rows.sort(key=lambda r: int(r["vec_id"]))
    return np.asarray([r["xq"] for r in rows], dtype=np.int64)


def _ref_lloyd(x: np.ndarray, books: list[tuple[int, int, int]], n_iter: int):
    """Pure-Python/numpy Lloyd over already-quantized rows (sorted by
    id): the module-docstring arithmetic contract, re-implemented
    independently.  ``books`` is [(offset, k, width), ...]."""
    cents = [
        [[int(v) * GRID for v in x[i, off : off + w]] for i in range(min(k, len(x)))]
        for off, k, w in books
    ]
    for _ in range(n_iter):
        for bi, (off, _k, w) in enumerate(books):
            sub = x[:, off : off + w]
            c = np.asarray(cents[bi], dtype=np.int64)
            d = ((sub[:, None, :] * GRID - c[None]) ** 2).sum(axis=2)
            cl = d.argmin(axis=1)  # first minimum = lowest cluster id
            for ci in range(len(cents[bi])):
                idx = np.nonzero(cl == ci)[0]
                if len(idx) == 0:
                    continue  # empty cluster: carry over
                n = int(len(idx))
                s = sub[idx].sum(axis=0)
                cents[bi][ci] = [
                    (2 * int(s[d_]) * GRID + n) // (2 * n) for d_ in range(w)
                ]
    return cents


@pytest.mark.parametrize("k,n_iter", [(8, 3), (5, 2)])
def test_train_cents_equals_reference(spark, xq_rows, k, n_iter):
    emb = load_table(spark, SF_DIR, "embeddings")
    pts = _quantized(emb, "vec_id", "embedding")
    dim = xq_rows.shape[1]
    got, got_dim = _train_cents(pts, "vec_id", k, n_iter)
    want = _ref_lloyd(xq_rows, [(0, k, dim)], n_iter)[0]
    assert got_dim == dim
    assert got == want


@pytest.mark.parametrize("m,k,n_iter", [(4, 16, 2), (2, 7, 3)])
def test_subspace_books_equal_reference(spark, xq_rows, m, k, n_iter):
    emb = load_table(spark, SF_DIR, "embeddings")
    pts = _quantized(emb, "vec_id", "embedding")
    dim = xq_rows.shape[1]
    assert dim % m == 0
    w = dim // m
    spec = [(j * w, k, w) for j in range(m)]
    got = _train_books_joint(pts, "vec_id", spec, n_iter)
    want = _ref_lloyd(xq_rows, spec, n_iter)
    assert got == want


def test_joint_ivf_spec_equals_reference(spark, xq_rows):
    emb = load_table(spark, SF_DIR, "embeddings")
    pts = _quantized(emb, "vec_id", "embedding")
    dim = xq_rows.shape[1]
    kc, m, k, n_iter = 8, 4, 16, 2
    w = dim // m
    spec = [(0, kc, dim)] + [(j * w, k, w) for j in range(m)]
    got = _train_books_joint(pts, "vec_id", spec, n_iter)
    want = _ref_lloyd(xq_rows, spec, n_iter)
    assert got == want


def test_full_width_none_resolves_to_dim(spark, xq_rows):
    """The w=None spec (used by _train_cents) must equal the explicit
    full-width spec bit for bit."""
    emb = load_table(spark, SF_DIR, "embeddings")
    pts = _quantized(emb, "vec_id", "embedding")
    dim = xq_rows.shape[1]
    a = _train_books_joint(pts, "vec_id", [(0, 6, None)], 2)
    b = _train_books_joint(pts, "vec_id", [(0, 6, dim)], 2)
    assert a == b
