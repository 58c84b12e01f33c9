#!/usr/bin/env python
"""Static plan audit of every bench headline query: anti-pattern scan.

Runs at local[$SPARK_GRAFT_CPUS] (the session default)."""
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from github_miner_spark import registry
from github_miner_spark.session import get_spark
from bench import HEADLINE

spark = get_spark(app_name="plan-audit", shuffle_partitions=32)
specs = registry.all_specs()
from github_miner_spark.graph.store import materialize_graph
materialize_graph(spark, SF)

out = {}
for n in [x for x in HEADLINE if x in specs]:
    try:
        df = specs[n].spark(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    except Exception as e:
        out[n] = {"error": str(e)[:200]}
        continue
    scans = plan.count("Scan parquet")
    empty_pushed = len(re.findall(r"PushedFilters: \[\]", plan))
    out[n] = {
        "exchange": len(re.findall(r"\(\d+\) Exchange", plan)),
        "bcast_exchange": len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "py_eval": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython"),
        "map_py": plan.count("MapInPandas") + plan.count("PythonMapInArrow") + plan.count("MapInArrow"),
        # applyInPandas / cogroup kernels (per-WCC Tarjan, Louvain, Brandes, ...)
        "group_py": plan.count("FlatMapGroupsInPandas") + plan.count("FlatMapCoGroupsInPandas"),
        "single_part": plan.count("SinglePartition"),
        "window": plan.count("(Window"),
        "parquet_scans": scans,
        "pushed_empty": empty_pushed,
        "rdd_scans": plan.count("Scan ExistingRDD"),
        "sort": len(re.findall(r"\(\d+\) Sort", plan)),
    }
with open(os.path.join(REPO, "plans", "r13", "plan_audit.json"), "w") as f:
    json.dump(out, f, indent=1)
print("queries audited:", len(out))
print("\n-- py eval nodes (expect 0) --")
for n, v in out.items():
    if v.get("py_eval"):
        print(n, v["py_eval"])
print("-- grouped pandas kernels (applyInPandas / cogroup) --")
for n, v in out.items():
    if v.get("group_py"):
        print(n, v["group_py"])
print("-- cartesian products --")
for n, v in out.items():
    if v.get("cartesian"):
        print(n, v["cartesian"])
print("-- BNLJ (should be broadcast-tiny only) --")
for n, v in out.items():
    if v.get("bnlj"):
        print(n, v["bnlj"])
print("-- errors --")
for n, v in out.items():
    if "error" in v:
        print(n, v["error"])
spark.stop()
