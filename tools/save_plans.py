"""Print or save per-query physical plans.

Without ``--round``, prints each query's executed-plan string, read after
the query ran through the noop sink. With ``--round``, writes
``plans/<round>/<query>_<tag>.txt`` holding the ``explain("formatted")``
output (pre-execution, AQE initial plan) followed by that string. The
noop write runs its own execution, so under AQE the string read back
from the DataFrame still shows ``isFinalPlan=false``.

Usage:
  python tools/save_plans.py [query ...]
  python tools/save_plans.py --round r11 --tag before [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usda_food_data_pipeline_spark import registry
from usda_food_data_pipeline_spark.session import QueryRun, get_spark

DEFAULT = ["tpch_q6", "tpch_q5", "dedup_latest_order", "cosine_topk", "flagship"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", default=None, help="save under plans/<round>/ instead of printing")
    ap.add_argument("--tag", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    outdir = None
    if args.round:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        outdir = os.path.join(repo, "plans", args.round)
        os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("save-plans")
    qs = registry.queries()
    for name in args.queries or DEFAULT:
        spark.sparkContext.setJobDescription(f"plan: {name}")
        with QueryRun():
            df = qs[name](spark, sf_dir)
            if outdir is not None:  # the pre-execution plan
                formatted = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            df.write.format("noop").mode("overwrite").save()
            executed = df._jdf.queryExecution().executedPlan().toString()
        if outdir is None:
            print(f"===== {name} =====")
            print(executed)
            continue
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"===== {name} ({args.tag}) — explain('formatted'), pre-execution =====\n")
            f.write(formatted)
            f.write(f"\n===== {name} ({args.tag}) — EXECUTED plan (AQE-final) =====\n")
            f.write(executed)
            f.write("\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
