"""Dedup-family scale sweep: the eight dedup/near-dup queries at
sf0.1 / sf1 / sf3 (same session, min-of-N, scales back-to-back — the
only timing protocol that survives this host's noise), with guard
counters and output rows for the four pair-generating paths.

Writes BENCH_LOCAL_sf1.json-compatible combined artifact.

Usage: python tools/dedup_sweep.py [--out BENCH_LOCAL_sf3.json]
        [--repeats 2] [--scales sf0.1,sf1,sf3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usda_food_data_pipeline_spark import registry
from usda_food_data_pipeline_spark.session import QueryRun, get_spark

QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_neardup",
    "semantic_dedup",
    "dedup_clusters",
    "incremental_dedup",
    "dup_substring_spans",
]

# guarded queries -> artifact key used by earlier rounds
GUARDED = {
    "dedup_ngram_jaccard": "ngram_jaccard_prefix",
    "dedup_minhash_lsh": "minhash_lsh_bands",
    "embedding_neardup": "embedding_neardup_signbkt",
    "semantic_dedup": "semantic_dedup_signbkt",
}

SCALE_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale/sf1"),
    "sf3": os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale/sf3"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="BENCH_LOCAL_sf3.json")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--scales", default="sf0.1,sf1,sf3")
    args = ap.parse_args()

    spark = get_spark("dedup-sweep")
    qs = registry.queries()
    scales: dict[str, dict[str, float]] = {}
    guards: dict[str, dict[str, dict]] = {}
    for label in args.scales.split(","):
        sf_dir = SCALE_DIRS[label]
        scales[label] = {}
        guards[label] = {}
        for name in QUERIES:
            best, rows = -1.0, None
            for _ in range(args.repeats):
                with QueryRun() as run:
                    t0 = time.time()
                    df = qs[name](spark, sf_dir)
                    rows = df.count()
                    sec = round(time.time() - t0, 2)
                best = sec if best < 0 else min(best, sec)
            scales[label][name] = best
            obs = run.guards.get(name)
            if name in GUARDED:
                entry = {"out_rows": rows}
                if obs is not None:
                    entry.update(obs.get)
                guards[label][GUARDED[name]] = entry
            print(json.dumps({"scale": label, "query": name, "rows": rows, "sec": best}), flush=True)
    # guard counters only matter where the caps can engage (sf1+)
    guards.pop("sf0.1", None)
    out = {
        "protocol": f"same-session, min-of-{args.repeats}, scales back-to-back",
        "scales": scales,
        "guard_counters": guards,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", args.out)


if __name__ == "__main__":
    main()
