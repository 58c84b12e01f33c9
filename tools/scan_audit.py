#!/usr/bin/env python
"""Registry-wide repeated-scan audit (second optimization session).

For EVERY registered query (not just the 94 bench entries), walk the
initial physical plan and count physical `Scan parquet` nodes per
source table plus `Scan ExistingRDD` nodes (pinned relations). A table
scanned >= 2 times inside one query is a candidate repeated-subtree
collapse — the tokenizer/HOF-lambda expressions defeat ReuseExchange
canonicalization, so duplicated derivations do NOT dedupe at runtime
(the wave-1 finding; this audit found the same pattern in the
unbenched registry tail: doc_unigram/bigram_surprisal,
doc_tfidf_top_terms, boilerplate_ngram_stats, bm25_retrieval_topk,
suppliers_kept_waiting, triangle/clustering/assortativity,
binned_quantile_estimates).

Writes plans/<round>/scan_audit.json and prints every multi-scan query.
Driver-side only (plans are built, nothing executes beyond the lazy
checkpoints' construction-time materialization).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
    "scan_audit.json",
)


def main() -> None:
    from github_miner_spark import registry
    from github_miner_spark.session import get_spark

    spark = get_spark(app_name="scan-audit")
    from github_miner_spark.graph.store import materialize_graph

    materialize_graph(spark, SF_DIR)
    specs = registry.all_specs()
    out: dict[str, dict] = {}
    for name, spec in specs.items():
        try:
            df = spec.spark(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            blocks = re.findall(
                r"\((\d+)\) Scan parquet[\s\S]*?Location: [^\n]*?"
                r"([a-z_0-9]+)\.parquet",
                plan,
            )
            per: dict[str, int] = {}
            for _i, tab in blocks:
                per[tab] = per.get(tab, 0) + 1
            out[name] = {
                "scans": per,
                "rdd": len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)),
            }
        except Exception as exc:  # pragma: no cover - audit resilience
            out[name] = {"err": str(exc)[:120]}
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    n_multi = 0
    for name in sorted(out):
        v = out[name]
        if "scans" in v and any(c >= 2 for c in v["scans"].values()):
            n_multi += 1
            print(name, v["scans"], "rdd=", v["rdd"])
    print(f"{n_multi} queries with a table scanned >= 2x -> {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
