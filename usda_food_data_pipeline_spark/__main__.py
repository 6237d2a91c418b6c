"""CLI: ``python -m usda_food_data_pipeline_spark <command>``.

Commands mirror how a reference user drives their repo:
  pipeline  — run the faithful USDA cleaning DAG over staged CSVs
  index     — build the embedding index from a parquet/CSV table
  retrieve  — top-k cosine retrieval against an index
(benchmarks: use bench.py at the repo root)
"""

from __future__ import annotations

import argparse
import json
import sys

from .session import QueryRun, get_spark
from .sources.tables import read_parquet


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="usda_food_data_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pipeline", help="run the faithful USDA cleaning DAG")
    p.add_argument("--landing-dir", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="csv", choices=["csv", "parquet"])

    i = sub.add_parser("index", help="build an embedding index")
    i.add_argument("--input", required=True, help="parquet table path")
    i.add_argument("--text-col", required=True)
    i.add_argument("--id-col", required=True)
    i.add_argument("--output", required=True)
    i.add_argument("--dim", type=int, default=64)

    r = sub.add_parser("retrieve", help="cosine top-k against an index")
    r.add_argument("--index", required=True)
    r.add_argument("--query", required=True)
    r.add_argument("--id-col", default="doc_id")
    r.add_argument("--k", type=int, default=10)
    r.add_argument("--dim", type=int, default=64)

    q = sub.add_parser("query", help="run a registered query by name (or list them)")
    q.add_argument("name", nargs="?", help="query name; omit to list all")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--output", help="write result parquet here instead of showing")
    q.add_argument("--limit", type=int, default=20, help="rows to show without --output")

    args = ap.parse_args(argv)
    spark = get_spark(f"cli-{args.cmd}")

    from . import api

    if args.cmd == "pipeline":
        api.run_pipeline(spark, args.landing_dir, args.output, args.format)
        print(json.dumps({"status": "ok", "output": args.output}))
    elif args.cmd == "index":
        df = read_parquet(spark, args.input)
        api.build_index(spark, df, args.text_col, args.id_col, args.output, args.dim)
        print(json.dumps({"status": "ok", "output": args.output}))
    elif args.cmd == "retrieve":
        docs = api.retrieve(
            spark, args.index, args.query, id_col=args.id_col, k=args.k, dim=args.dim
        )
        print(json.dumps(docs, default=str))
    elif args.cmd == "query":
        from . import registry

        qs = registry.queries()
        if not args.name:
            for spec in registry.specs():
                print(json.dumps({"name": spec.name, "doc": spec.doc}))
            return 0
        if args.name not in qs:
            print(json.dumps({"error": f"unknown query {args.name!r}"}), file=sys.stderr)
            return 2
        with QueryRun():
            df = qs[args.name](spark, args.sf_dir)
            if args.output:
                df.write.mode("overwrite").parquet(args.output)
                print(json.dumps({"status": "ok", "output": args.output}))
            else:
                df.show(args.limit, truncate=40)
    return 0


if __name__ == "__main__":
    sys.exit(main())
