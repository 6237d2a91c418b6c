"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive exact value comparison (floats
must match bit-for-bit after the in-query rounding — the same bar the
driver's value-hash sets).

Usage:
  python tools/check_correctness.py [--sf-dir DIR] [--only name,...]
  # the same gate at several scales, siblings of --sf-dir's directory,
  # with every per-query row collected into one JSON file
  python tools/check_correctness.py --scales sf0.001,sf0.01,sf0.1 --out FILE
  # the driver's window: the first N queries on a bare local[8] session
  # (none of the engine's session configs), to catch configs the engine
  # assumed but the driver does not set
  python tools/check_correctness.py --vanilla --n 50

Prints one JSON line per query and ``{"total_failures": n}`` per scale;
with ``--scales`` also a per-scale count line, with ``--vanilla`` a
window summary line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usda_food_data_pipeline_spark.sources.tables import TABLES


def canon_arrow_type(t) -> str:
    """Canonical label for an Arrow type, matching the driver's type-sensitive
    value hash.  DuckDB sum(BIGINT) -> HUGEINT -> decimal128, which the driver
    distinguishes from Spark's int64 even when values are equal
    (CORRECTNESS_r01 events_agg/funnel_conversion) — so type divergence must
    fail HERE, locally.  Folds what the driver's hash demonstrably tolerates:
    integer widths (r01 greens knn_join/text_tokens/window_running/... carry
    int32-vs-int64 columns), string/large_string, timestamp unit+tz.
    """
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_arrow_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canon_arrow_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{canon_arrow_type(t.key_type)},{canon_arrow_type(t.item_type)}>"
    return str(t)


def arrow_types_by_col(tbl) -> dict[str, str]:
    return {f.name.lower(): canon_arrow_type(f.type) for f in tbl.schema}


def canon_cell(v) -> str:
    if v is None:
        return "\0null"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0null"  # NaN ≡ null for oracle parity
        return repr(v)  # 17-sig-digit round-trip repr → bit-exact compare
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return f"{type(v).__name__}:{v}"


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare(name, spark_df, sql, con):
    t0 = time.time()
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    spark_sec = time.time() - t0
    res = {"query": name, "spark_rows": len(s_rows), "spark_sec": round(spark_sec, 2)}
    if sql is None:
        res["status"] = "rows_only"
        res["ok"] = len(s_rows) >= 0
        return res
    o = con.sql(sql)
    o_cols = o.columns
    o_arrow = o.fetch_arrow_table()
    o_rows = [tuple(r.values()) for r in o_arrow.to_pylist()]
    res["oracle_rows"] = len(o_rows)
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        res["status"] = "schema_mismatch"
        res["spark_cols"] = s_cols
        res["oracle_cols"] = o_cols
        res["ok"] = False
        return res
    # Arrow-level type parity: the driver's value hash is type-sensitive, so
    # DuckDB HUGEINT/decimal results must be caught even when values match.
    s_types = arrow_types_by_col(spark_df.limit(0).toArrow())
    o_types = arrow_types_by_col(o_arrow)
    # The driver's canonicalizer (pandas sort_values over raw cells) crashes
    # on list/struct/map cells — r03's quantize_embeddings red row shipped
    # because this gate stringified them. Reject non-scalar output columns
    # outright: registered queries must serialize arrays (array_join/to_json)
    # on both sides.
    nonscalar = {
        c: t
        for types in (s_types, o_types)
        for c, t in types.items()
        if t.startswith(("list<", "struct<", "map<"))
    }
    if nonscalar:
        res["status"] = "nonscalar_output"
        res["nonscalar_cols"] = nonscalar
        res["ok"] = False
        return res
    type_diffs = {
        c: [s_types[c], o_types[c]] for c in s_types if s_types[c] != o_types.get(c)
    }
    if type_diffs:
        res["status"] = "type_mismatch"
        res["type_diffs"] = type_diffs
        res["ok"] = False
        return res
    if len(s_rows) != len(o_rows):
        res["status"] = "rowcount_mismatch"
        res["ok"] = False
        return res
    sc = canon_rows([c.lower() for c in s_cols], s_rows)
    oc = canon_rows([c.lower() for c in o_cols], o_rows)
    if sc == oc:
        res["status"] = "match"
        res["ok"] = True
    else:
        diffs = [(a, b) for a, b in zip(sc, oc) if a != b]
        res["status"] = "value_mismatch"
        res["n_diff_rows"] = len(diffs)
        res["first_diff"] = [list(diffs[0][0]), list(diffs[0][1])] if diffs else None
        res["ok"] = False
    return res


def run_gate(spark, sf_dir: str, names: list[str], qs, oracles) -> list[dict]:
    """Compare each named query against its oracle at ``sf_dir``,
    printing one JSON row per query."""
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single-file tables; local scale fixtures
        # (tools/make_scale.py) are Spark-written part-file directories
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    rows = []
    for name in names:
        try:
            res = compare(name, qs[name](spark, sf_dir), oracles.get(name), con)
        except Exception as ex:  # noqa: BLE001
            res = {"query": name, "status": "error", "error": str(ex)[:500], "ok": False}
        print(json.dumps(res), flush=True)
        rows.append(res)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--scales", default=None,
                    help="comma list of scale directories next to --sf-dir's, e.g. sf0.001,sf0.1")
    ap.add_argument("--out", default=None, help="write every scale's rows to this JSON file")
    ap.add_argument("--vanilla", action="store_true",
                    help="bare local[8] SparkSession instead of the engine's session")
    ap.add_argument("--n", type=int, default=None, help="check only the first N queries")
    args = ap.parse_args()

    import __spark_entry__ as e

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from usda_food_data_pipeline_spark.session import get_spark

        spark = get_spark("correctness-check")
    qs = e.queries()
    oracles = e.oracle_sql()
    names = list(qs)[: args.n]
    if args.only:
        only = set(args.only.split(","))
        names = [n for n in names if n in only]
    if args.scales:
        root = os.path.dirname(os.path.abspath(args.sf_dir))
        sf_dirs = [os.path.join(root, sf) for sf in args.scales.split(",")]
    else:
        sf_dirs = [args.sf_dir]

    result = {}
    n_fail_all = 0
    for sf_dir in sf_dirs:
        rows = run_gate(spark, sf_dir, names, qs, oracles)
        failures = [r["query"] for r in rows if not r.get("ok")]
        n_fail_all += len(failures)
        print(json.dumps({"total_failures": len(failures)}))
        sf = os.path.basename(sf_dir.rstrip("/"))
        result[sf] = {
            "total_failures": len(failures),
            "n_queries": len(rows),
            "n_match": sum(1 for r in rows if r.get("status") == "match"),
            "n_rows_only": sum(1 for r in rows if r.get("status") == "rows_only"),
            "queries": {r["query"]: r for r in rows},
        }
        if args.scales:
            print(json.dumps({sf: {k: v for k, v in result[sf].items() if k != "queries"}}),
                  flush=True)
        if args.vanilla:
            print(json.dumps({
                "window": len(rows),
                "green": len(rows) - len(failures),
                "failures": failures,
                "vanilla_session": True,
                "sf_dir": sf_dir,
            }))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        print("wrote", args.out)
    return 1 if n_fail_all else 0


if __name__ == "__main__":
    sys.exit(main())
