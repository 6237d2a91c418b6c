"""Dump executed physical plans for the headline queries (PLANS.md
source). Usage: python tools/dump_plans.py [query ...]"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usda_food_data_pipeline_spark import registry
from usda_food_data_pipeline_spark.session import QueryRun, get_spark

DEFAULT = ["tpch_q6", "tpch_q5", "dedup_latest_order", "cosine_topk", "flagship"]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    qs = registry.queries()
    for name in names:
        with QueryRun():
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            print(f"===== {name} =====")
            print(df._jdf.queryExecution().executedPlan().toString())


if __name__ == "__main__":
    main()
