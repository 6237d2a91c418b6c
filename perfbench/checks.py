"""Output checks, run outside every timed region.

Each check is independent of the engine's own code paths:

- ``etl_twin`` re-derives ``run_pipeline``'s wide table from the staged
  CSVs in DuckDB; ``etl_output`` reads what the engine wrote. Both sides
  reduce to a row count and an order-insensitive value hash. The twin
  rounds as Spark's ``bround`` does: half-even on the shortest decimal
  form of the double, not on its binary value.
- ``embed`` / ``topk`` re-implement the md5 hashing featurizer and an
  exact cosine top-k in numpy (sequential double folds, as the engine's
  ``cosine`` computes them), so ids and scores compare exactly.
- ``oracle_hashes`` runs ``registry.oracle_sql()`` in DuckDB over the
  star schema and keeps one hash per query; ``main`` regenerates the
  stored file::

      python3 perfbench/checks.py oracle-hashes
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import math
import os
import re
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_HASHES = os.path.join(HERE, "oracle_hashes.json")

# -- order-insensitive value hash -------------------------------------------------


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0null"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return f"{type(v).__name__}:{v}"


def value_hash(cols: list[str], rows) -> dict:
    """Row count plus a hash of the sorted canonical rows, with columns
    taken in name order so column order does not matter."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=names.__getitem__)
    canon = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(names)).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(canon), "hash": h.hexdigest()}


# -- usda_etl: DuckDB twin of the pipeline --------------------------------------------

THRESHOLDS_BY_NAME = {"ENERGY (KCAL)": 902.0}
THRESHOLDS_BY_UNIT = {"G": 100.0, "MG": 100_000.0, "UG": 100_000_000.0, "KCAL": 902.0, "KJ": 3774.0}
FIXED = ["FOOD_RECORD_ID", "FOOD_ID", "FOOD_NAME", "FOOD_SERVING_SIZE",
         "FOOD_SERVING_SIZE_VALUE", "FOOD_SERVING_SIZE_UNIT", "FOOD_INGREDIENTS"]


def _csv(path: str) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true, quote='\"', escape='\"')"


_CENT = decimal.Decimal("0.01")


def bround2(x: float | None) -> float | None:
    """Spark's ``bround(x, 2)`` on a double: round the shortest decimal
    form half-even (so 1.015 -> 1.02, where the binary value 1.01499...
    would give 1.01)."""
    if x is None:
        return None
    return float(decimal.Decimal(repr(x)).quantize(_CENT, rounding=decimal.ROUND_HALF_EVEN))


def _threshold(label: str) -> float | None:
    if label in THRESHOLDS_BY_NAME:
        return THRESHOLDS_BY_NAME[label]
    if "(" in label:
        return THRESHOLDS_BY_UNIT.get(label.split("(")[-1].replace(")", "").strip())
    return None


def etl_twin(con, landing: str) -> tuple[list[str], list[tuple]]:
    """The reference pipeline in DuckDB SQL over the staged CSVs."""
    con.create_function("bround2", bround2, ["DOUBLE"], "DOUBLE")
    labels = {}
    seen = set()
    for nid, label in con.sql(
        f"""SELECT CAST(id AS BIGINT), upper(trim(name)) || ' (' || upper(trim(unit_name)) || ')'
            FROM {_csv(landing + '/nutrient.csv')} ORDER BY 1"""
    ).fetchall():
        labels[nid] = label if label not in seen else f"{label} [{nid}]"
        seen.add(label)
    cols = sorted(labels.values())
    by_label = {v: k for k, v in labels.items()}
    pivot = ", ".join(
        f'max(CASE WHEN nid = {by_label[c]} THEN q END) AS "{c}"' for c in cols
    )

    def out(c: str) -> str:
        t = _threshold(c)
        if t is None:
            return f'"{c}"'
        return f'CASE WHEN "{c}" <= {t!r} THEN bround2("{c}") END AS "{c}"'

    sql = f"""
    WITH bf AS (
        SELECT CAST(fdc_id AS BIGINT) AS rid, gtin_upc, ingredients, serving_size,
               serving_size_unit,
               row_number() OVER (PARTITION BY gtin_upc ORDER BY CAST(fdc_id AS BIGINT) DESC) AS rn
        FROM {_csv(landing + '/branded_food.csv')}
    ), branded AS (
        SELECT rid,
               upper(trim(gtin_upc)) AS FOOD_ID,
               upper(trim(ingredients)) AS FOOD_INGREDIENTS,
               bround2(TRY_CAST(serving_size AS DOUBLE)) AS FOOD_SERVING_SIZE_VALUE,
               upper(trim(serving_size_unit)) AS FOOD_SERVING_SIZE_UNIT
        FROM bf WHERE rn = 1
    ), foods AS (
        SELECT CAST(fdc_id AS BIGINT) AS rid, upper(trim(description)) AS FOOD_NAME
        FROM {_csv(landing + '/food.csv')}
        WHERE CAST(fdc_id AS BIGINT) IN (SELECT rid FROM branded)
    ), fn AS (
        SELECT CAST(fdc_id AS BIGINT) AS rid, CAST(nutrient_id AS BIGINT) AS nid,
               avg(CAST(amount AS DOUBLE)) AS q
        FROM {_csv(landing + '/food_nutrient.csv')}
        WHERE CAST(fdc_id AS BIGINT) IN (SELECT rid FROM branded)
        GROUP BY 1, 2
    ), wide AS (
        SELECT rid, {pivot} FROM fn GROUP BY rid
    ), merged AS (
        SELECT CAST(b.rid AS VARCHAR) AS FOOD_RECORD_ID, b.FOOD_ID, f.FOOD_NAME,
               CAST(b.FOOD_SERVING_SIZE_VALUE AS VARCHAR) || ' ' || b.FOOD_SERVING_SIZE_UNIT
                   AS FOOD_SERVING_SIZE,
               b.FOOD_SERVING_SIZE_VALUE, b.FOOD_SERVING_SIZE_UNIT, b.FOOD_INGREDIENTS,
               w.* EXCLUDE (rid)
        FROM branded b JOIN foods f USING (rid) JOIN wide w USING (rid)
        WHERE b.FOOD_INGREDIENTS IS NOT NULL
    )
    SELECT {", ".join(FIXED)}, {", ".join(out(c) for c in cols)}
    FROM merged
    WHERE FOOD_SERVING_SIZE IS NOT NULL AND NOT contains(FOOD_SERVING_SIZE, 'IU')
    """
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def etl_output(con, out_dir: str) -> tuple[list[str], list[tuple]]:
    """The engine's quoted-CSV output, typed like the twin's columns."""
    rel = con.sql(f"SELECT * FROM {_csv(out_dir + '/part-*.csv')}")
    cols = rel.columns
    typed = []
    for c in cols:
        v = f"nullif(\"{c}\", '')"
        if c in FIXED and c != "FOOD_SERVING_SIZE_VALUE":
            typed.append(f'{v} AS "{c}"')
        else:
            typed.append(f'CAST({v} AS DOUBLE) AS "{c}"')
    rel = con.sql(f"SELECT {', '.join(typed)} FROM {_csv(out_dir + '/part-*.csv')}")
    return rel.columns, rel.fetchall()


# -- food_search: numpy featurizer and exact top-k ------------------------------------

EMBED_SEED = 11
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def embed(text: str | None, dim: int = 64) -> np.ndarray:
    """Hashing featurizer: md5 bucket counts of lower-cased whitespace
    tokens, L2-normalised (a zero vector for text without tokens)."""
    counts = np.zeros(dim)
    for tok in _WS.split((text or "").strip().lower()):
        if tok:
            digest = hashlib.md5(f"s{EMBED_SEED}:{tok}".encode()).hexdigest()
            counts[int(digest[:12], 16) % dim] += 1.0
    norm = math.sqrt(sum(c * c for c in counts))
    return counts / norm if norm > 0 else counts


def _fold_dot(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * v[j]
    return acc


def topk(ids: np.ndarray, vecs: np.ndarray, query: np.ndarray, k: int = 10) -> list[tuple[int, float]]:
    """Exact cosine top-k, score descending then id ascending; vectors
    with a zero norm (NULL score in the engine) are skipped."""
    denom = np.sqrt(_fold_dot(vecs * vecs, np.ones(vecs.shape[1]))) * math.sqrt(
        _fold_dot(query[None, :], query)[0]
    )
    idx = np.flatnonzero(denom != 0)
    scores = _fold_dot(vecs[idx], query) / denom[idx]
    order = np.lexsort((ids[idx], -scores))[:k]
    return [(int(ids[idx[i]]), float(scores[i])) for i in order]


def load_index(index_path: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(index_path)
    ids = tbl.column(0).to_numpy()
    vecs = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    return ids, vecs


# -- curation_queries: stored oracle hashes -----------------------------------------------


def duckdb_views(con, star_dir: str) -> None:
    for f in sorted(os.listdir(star_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{star_dir}/{f}')")


def oracle_hashes(star_dir: str, names: list[str]) -> dict[str, dict]:
    import duckdb

    from usda_food_data_pipeline_spark import registry

    sqls = registry.oracle_sql()
    con = duckdb.connect()
    try:
        duckdb_views(con, star_dir)
        out = {}
        for n in names:
            rel = con.sql(sqls[n])
            out[n] = value_hash(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def main(argv: list[str] | None = None) -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from fixtures import STAR_SEED, STAR_SF
    from workloads import CURATION_QUERIES, star_dir

    ap = argparse.ArgumentParser(description="Regenerate the stored curation oracle hashes.")
    ap.add_argument("command", choices=["oracle-hashes"])
    ap.parse_args(argv)
    d = star_dir()
    hashes = oracle_hashes(d, list(CURATION_QUERIES))
    with open(ORACLE_HASHES, "w", encoding="ascii") as f:
        json.dump({"star_seed": STAR_SEED, "sf": STAR_SF, "queries": hashes}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(hashes, indent=1))


if __name__ == "__main__":
    main()
