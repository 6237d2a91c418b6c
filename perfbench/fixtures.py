"""Seeded fixture generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files. The engine under test only
ever sees the files written here. The sizes below are the ones every
benchmark run uses.

- ``usda_landing``: the four staged USDA CSVs ``run_pipeline`` reads,
  carrying the dirt the reference pipeline cleans: duplicate UPCs,
  ``n/a`` serving sizes, ``IU`` units, null ingredients, ``fdc_id``s
  absent from ``branded_food``, duplicate measurements, and amounts
  above the KCAL and per-unit thresholds. Amounts and serving sizes
  carry up to 3 decimals (2-decimal ties included), and duplicate
  measurements average off the 2-decimal grid, so the pipeline's
  half-even rounding to 2 decimals changes values.
- ``food_corpus``: food names (``food.csv``) for the index, plus the
  query texts of the retrieval loop (``queries.json``).
- ``star_schema``: the TPC-H-shaped tables (plus events, documents and
  embeddings) that the registered curation queries read. It does not
  depend on the workload seed: the benchmark always writes it with
  ``STAR_SEED`` at ``STAR_SF``.

Usage (writes exactly what a benchmark run with that seed reads)::

    python3 perfbench/fixtures.py usda  --seed 1 --out DIR
    python3 perfbench/fixtures.py foods --seed 1 --out DIR
    python3 perfbench/fixtures.py star  --out DIR
"""

from __future__ import annotations

import argparse
import csv
import json
import os

import numpy as np

# The benchmark's input sizes (README.md: chosen so that every run fits
# the benchmark's time budget).
USDA_BRANDED = 10_000
USDA_EXTRA_NUTRIENTS = 28  # plus the 12 named ones
FOOD_NAMES = 20_000
STAR_SF = 0.01
STAR_SEED = 42

# -- shared vocabulary --------------------------------------------------------

ADJECTIVES = (
    "organic", "roasted", "salted", "sweet", "spicy", "smoked", "whole",
    "crunchy", "creamy", "frozen", "fresh", "dried", "low fat", "honey",
    "classic", "original", "dark", "light", "wild", "golden",
)
FOODS = (
    "almonds", "peanut butter", "oat cereal", "granola bar", "tomato soup",
    "cheddar cheese", "greek yogurt", "whole milk", "orange juice", "rye bread",
    "pasta sauce", "potato chips", "chicken breast", "salmon fillet", "rice",
    "black beans", "corn tortillas", "chocolate bar", "apple sauce", "ice cream",
    "green tea", "coffee beans", "maple syrup", "trail mix", "hummus",
    "pretzels", "crackers", "beef jerky", "blueberries", "spinach",
)
STYLES = ("bites", "snack", "mix", "family size", "cups", "slices", "spread", "pack")
INGREDIENTS = (
    "sugar", "salt", "water", "wheat flour", "soy lecithin", "canola oil",
    "corn syrup", "milk", "cocoa", "vanilla extract", "citric acid",
    "natural flavor", "yeast", "baking soda", "whey", "eggs", "honey",
    "sea salt", "garlic", "onion powder", "paprika", "vinegar",
)
UNITS = ("g", "G", " ml ", "MG", "oz", "GRM", "MLT")

# (name, unit, upper bound of a plausible amount); the pipeline's
# thresholds are ENERGY (KCAL) 902 by name and G 100 / MG 1e5 / UG 1e8 /
# KCAL 902 / KJ 3774 by unit, and IU columns have no threshold at all.
NAMED_NUTRIENTS = (
    ("Energy", "KCAL", 900.0),
    ("Energy", "kJ", 3700.0),
    ("Protein", "G", 90.0),
    ("Total lipid (fat)", "G", 90.0),
    ("Carbohydrate, by difference", "G", 95.0),
    ("Sugars, total", "G", 80.0),
    ("Fiber, total dietary", "G", 40.0),
    ("Sodium, Na", "MG", 5000.0),
    ("Calcium, Ca", "MG", 2000.0),
    ("Vitamin A, IU", "IU", 9000.0),
    ("Vitamin D (D2 + D3), International Units", "IU", 900.0),
    ("Vitamin B-12", "UG", 500.0),
)
GENERATED_UNITS = ("G", "MG", "UG", "IU")
GENERATED_BOUNDS = {"G": 90.0, "MG": 4000.0, "UG": 900.0, "IU": 5000.0}
THRESHOLDS = {"G": 100.0, "MG": 100_000.0, "UG": 100_000_000.0, "KCAL": 902.0, "KJ": 3774.0}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _food_names(rng: np.random.Generator, n: int) -> list[str]:
    a = rng.integers(0, len(ADJECTIVES), n)
    f = rng.integers(0, len(FOODS), n)
    s = rng.integers(0, len(STYLES), n)
    with_style = rng.random(n) < 0.5
    brand = rng.integers(1, 400, n)
    out = []
    for i in range(n):
        words = [f"brand{brand[i]}", ADJECTIVES[a[i]], FOODS[f[i]]]
        if with_style[i]:
            words.append(STYLES[s[i]])
        out.append(" ".join(words))
    return out


def _mixed_case(rng: np.random.Generator, texts: list[str]) -> list[str]:
    """Upper-case or pad some values; the pipeline trims and upper-cases."""
    mode = rng.integers(0, 4, len(texts))
    out = []
    for t, m in zip(texts, mode):
        if m == 1:
            t = t.upper()
        elif m == 2:
            t = f"  {t} "
        elif m == 3:
            t = t.title()
        out.append(t)
    return out


def _milli(m: int) -> str:
    """A non-negative amount in thousandths, written exactly."""
    return f"{m // 1000}.{m % 1000:03d}"


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", encoding="ascii", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for r in rows:
            w.writerow("" if v is None else v for v in r)


# -- USDA landing ----------------------------------------------------------------


def usda_landing(out_dir: str, seed: int, n_branded: int = USDA_BRANDED,
                 n_generated_nutrients: int = USDA_EXTRA_NUTRIENTS, per_food: int = 12) -> dict:
    """Write ``branded_food``, ``food``, ``nutrient`` and ``food_nutrient``
    CSVs under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)

    # branded_food: distinct fdc_ids; ~12% of records reuse another
    # record's UPC (the dedup keeps the highest fdc_id per UPC)
    fdc = 100_000 + np.sort(rng.choice(20 * n_branded, n_branded, replace=False))
    rng.shuffle(fdc)
    upc_ids = np.arange(n_branded)
    dup = rng.random(n_branded) < 0.12
    upc_ids[dup] = rng.integers(0, n_branded, int(dup.sum()))
    upcs = [f"{7_000_000_000_00 + int(u) * 37:012d}" for u in upc_ids]
    n_ingr = rng.integers(1, 7, n_branded)
    ingr_pick = rng.integers(0, len(INGREDIENTS), (n_branded, 6))
    ingr_null = rng.random(n_branded) < 0.05
    ingredients = _mixed_case(rng, [
        ", ".join(INGREDIENTS[j] for j in ingr_pick[i, : n_ingr[i]]) for i in range(n_branded)
    ])
    ingredients = [None if ingr_null[i] else v for i, v in enumerate(ingredients)]
    # serving sizes in thousandths; a third keep a third decimal
    size_val = rng.integers(100, 100_000, n_branded) * 10
    off_grid = rng.random(n_branded) < 0.3
    size_val[off_grid] += rng.integers(1, 10, int(off_grid.sum()))
    size_kind = rng.random(n_branded)
    serving_size = [
        None if k < 0.02 else ("n/a" if k < 0.06 else _milli(int(v)).rstrip("0").rstrip("."))
        for v, k in zip(size_val, size_kind)
    ]
    unit_kind = rng.random(n_branded)
    unit_pick = rng.integers(0, len(UNITS), n_branded)
    serving_unit = [
        None if k < 0.02 else ("IU" if k < 0.05 else UNITS[u])
        for u, k in zip(unit_pick, unit_kind)
    ]
    owner = rng.integers(1, 400, n_branded)
    _write_csv(
        os.path.join(out_dir, "branded_food.csv"),
        ["fdc_id", "brand_owner", "gtin_upc", "ingredients", "serving_size", "serving_size_unit"],
        (
            (int(fdc[i]), f"Brand{owner[i]} Foods", upcs[i], ingredients[i],
             serving_size[i], serving_unit[i])
            for i in range(n_branded)
        ),
    )

    # food: most branded records plus stray fdc_ids the semi-join drops
    has_food = rng.random(n_branded) < 0.98
    stray = 50_000 + np.arange(max(1, n_branded // 10)) * 7
    food_ids = np.concatenate([fdc[has_food], stray])
    names = _mixed_case(rng, _food_names(rng, len(food_ids)))
    _write_csv(
        os.path.join(out_dir, "food.csv"),
        ["fdc_id", "data_type", "description"],
        ((int(i), "branded_food", n) for i, n in zip(food_ids, names)),
    )

    # nutrient dimension: named nutrients first, then generated ones. A
    # release's nutrient table is a fixed reference table, so it does not
    # depend on the seed (its units decide which columns get thresholds).
    nutrients = list(NAMED_NUTRIENTS)
    gen_units = _rng(0, 4).integers(0, len(GENERATED_UNITS), n_generated_nutrients)
    for j in range(n_generated_nutrients):
        u = GENERATED_UNITS[gen_units[j]]
        nutrients.append((f"Nutrient {j:03d}", u if j % 5 else u.lower(), GENERATED_BOUNDS[u]))
    nutrient_ids = 1000 + np.arange(len(nutrients)) * 3
    _write_csv(
        os.path.join(out_dir, "nutrient.csv"),
        ["id", "name", "unit_name", "nutrient_nbr"],
        ((int(nutrient_ids[j]), n, u, j + 200) for j, (n, u, _) in enumerate(nutrients)),
    )

    # food_nutrient: ~per_food measurements per branded record plus rows
    # for stray ids; amounts carry 3 decimals. Duplicate measurements
    # come in pairs (a, a + d) with d in 1..3 thousandths, so their mean
    # lies off the 3-decimal grid or on a 2-decimal tie; some amounts
    # exceed their unit's threshold.
    keys_fdc = np.concatenate([fdc, stray[: len(stray) // 2]])
    counts = rng.poisson(per_food, len(keys_fdc)).clip(1, len(nutrients))
    rows_fdc = np.repeat(keys_fdc, counts)
    rows_nut = np.concatenate(
        [rng.choice(len(nutrients), c, replace=False) for c in counts]
    )
    bounds = np.array([b for _, _, b in nutrients])
    milli = (rng.random(len(rows_fdc)) * bounds[rows_nut] * 1000).astype(np.int64) + 1
    over = rng.random(len(rows_fdc)) < 0.01
    unit_of = [u.upper() for _, u, _ in nutrients]
    limit = np.array([THRESHOLDS.get(u, 1e12) for u in unit_of])
    milli[over] = (limit[rows_nut[over]] * rng.uniform(1.5, 5.0, int(over.sum())) * 1000).astype(np.int64)
    dup = rng.random(len(rows_fdc)) < 0.03
    amount = np.concatenate([milli, milli[dup] + rng.integers(1, 4, int(dup.sum()))])
    rows_fdc = np.concatenate([rows_fdc, rows_fdc[dup]])
    rows_nut = np.concatenate([rows_nut, rows_nut[dup]])
    order = rng.permutation(len(rows_fdc))
    _write_csv(
        os.path.join(out_dir, "food_nutrient.csv"),
        ["id", "fdc_id", "nutrient_id", "amount"],
        (
            (k + 1, int(rows_fdc[i]), int(nutrient_ids[rows_nut[i]]), _milli(int(amount[i])))
            for k, i in enumerate(order)
        ),
    )
    return {
        "branded_food": n_branded,
        "food": len(food_ids),
        "nutrient": len(nutrients),
        "food_nutrient": len(order),
    }


# -- food-name corpus and query texts ---------------------------------------------


def food_corpus(out_dir: str, seed: int, n_names: int = FOOD_NAMES, n_queries: int = 400) -> dict:
    """Write ``food.csv`` (``fdc_id, description``) and ``queries.json``
    (a list of query texts); return their sizes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 2)
    ids = 300_000 + np.sort(rng.choice(10 * n_names, n_names, replace=False))
    names = _food_names(rng, n_names)
    _write_csv(
        os.path.join(out_dir, "food.csv"),
        ["fdc_id", "description"],
        ((int(i), n) for i, n in zip(ids, names)),
    )
    queries = []
    pick = rng.integers(0, n_names, n_queries)
    kind = rng.random(n_queries)
    for q, k in zip(pick, kind):
        words = names[q].split()
        if k < 0.5:  # a known product, partially typed
            start = int(rng.integers(0, max(1, len(words) - 1)))
            queries.append(" ".join(words[start:]))
        elif k < 0.8:  # a food and an attribute
            queries.append(f"{ADJECTIVES[rng.integers(len(ADJECTIVES))]} {FOODS[rng.integers(len(FOODS))]}")
        else:  # free text with words outside the corpus vocabulary
            queries.append(f"high protein {FOODS[rng.integers(len(FOODS))]} for breakfast")
    with open(os.path.join(out_dir, "queries.json"), "w", encoding="ascii") as f:
        json.dump(queries, f, indent=0)
    return {"names": n_names, "queries": n_queries}


# -- star schema for the curation queries -----------------------------------------

DOC_WORDS = (
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the",
)
PART_ADJ = ("red", "small", "hot", "old", "cold", "large", "shiny", "blue")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gear", "spring", "valve")


def _write_parquet(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path, compression="snappy")


def star_schema(out_dir: str, seed: int = STAR_SEED, sf: float = STAR_SF) -> dict:
    """Write the ten star-schema tables as single-file parquet; return
    their row counts. Row counts follow the TPC-H scale factors
    (lineitem ~ 6M x sf)."""
    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 3)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    day = np.datetime64("1992-01-01", "ms")
    sizes = {}

    def ts(days):
        return pa.array((day + np.asarray(days, dtype="timedelta64[D]")).astype("datetime64[ms]"))

    _write_parquet(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write_parquet(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write_parquet(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": [
            ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")[i]
            for i in rng.integers(0, 5, n_cust)
        ],
    })
    _write_parquet(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100.0),
    })
    _write_parquet(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [
            ("ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE")[i]
            for i in rng.integers(0, 6, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((90_000 + np.arange(n_part) % 10_000) / 100.0),
    })
    odate = rng.integers(0, 3500, n_ord)
    _write_parquet(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_ord) / 100.0),
        "o_orderdate": ts(odate),
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
            for i in rng.integers(0, 5, n_ord)
        ],
    })
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = (np.arange(len(l_ord)) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    n_li = len(l_ord)
    # a few popular parts so that basket pairs clear the support floor
    hot = rng.random(n_li) < 0.3
    l_part = rng.integers(0, n_part, n_li)
    l_part[hot] = rng.integers(0, max(10, n_part // 100), int(hot.sum()))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write_parquet(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(l_part.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_li) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li)),
    })
    n_users = max(15, n_events // 67)
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write_parquet(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": [
            ("click", "view", "purchase", "signup", "error")[i]
            for i in rng.integers(0, 5, n_events)
        ],
        "value": pa.array(rng.integers(0, 50_000, n_events) / 100.0),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })
    # documents: random token streams; ~10% are near-duplicates of an
    # earlier document (a few tokens replaced) for the dedup queries
    doc_len = rng.integers(10, 100, n_docs)
    texts: list[str] = []
    for d in range(n_docs):
        if d > 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, d))].split()
            for p in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[p] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), doc_len[d])))
    _write_parquet(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [("en", "en", "de", "es", "fr", "zh")[i] for i in rng.integers(0, 6, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # embeddings: 64-d unit vectors around 10 label centroids
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] * 0.15 + rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    sizes.update(customer=n_cust, supplier=n_supp, part=n_part, orders=n_ord,
                 lineitem=n_li, events=n_events, documents=n_docs, embeddings=n_vecs)
    return sizes


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="kind", required=True)
    for kind in ("usda", "foods", "star"):
        p = sub.add_parser(kind)
        if kind != "star":
            p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.kind == "usda":
        sizes = usda_landing(a.out, a.seed)
    elif a.kind == "foods":
        sizes = food_corpus(a.out, a.seed)
    else:
        sizes = star_schema(a.out)
    print(json.dumps(sizes))


if __name__ == "__main__":
    main()
