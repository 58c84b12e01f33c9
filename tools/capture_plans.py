#!/usr/bin/env python
"""Capture .explain("formatted") output for named registry queries.

Usage:
    python tools/capture_plans.py <suffix> <query> [<query> ...]

Writes plans/<round>/<query>_<suffix>.txt for each query (suffix is
"before" or "after"; round is $SPARK_GRAFT_PLANS_ROUND, default r13).
Runs on $SPARK_GRAFT_SF_DIR (default sf0.1) with the session.get_spark
defaults, matching the bench environment, so the captured plan is the
one the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
)


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    suffix, names = sys.argv[1], sys.argv[2:]

    from github_miner_spark import registry
    from github_miner_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    specs = registry.all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    os.makedirs(OUT_DIR, exist_ok=True)
    from github_miner_spark.graph.store import materialize_graph

    materialize_graph(spark, SF_DIR)
    for name in names:
        df = specs[name].spark(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange mentions -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
