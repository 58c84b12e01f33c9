#!/usr/bin/env python3
"""Derive ``expected.json``, the result digests the query workloads are
checked against.

    python3 perfbench/make_expected.py [--check]

For each op, the digest comes from the op's DuckDB oracle
(``registry.oracle_sqls()``) run on the generated tables when the op
has one, otherwise from Spark's own result at the commit this is run
on. Ops with an oracle are also run on Spark, and any disagreement is
reported and fails the script. ``--check`` compares against the
committed file instead of writing it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402
from run import STORE_ENVS, cpu_count  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    base = os.path.join(os.getcwd(), ".perfbench-runs")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="expected-", dir=base)
    try:
        return _derive(tmp, args.check)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def _derive(tmp: str, check: bool) -> int:
    for name in STORE_ENVS:
        os.environ[f"SPARK_GRAFT_{name}_STORE"] = os.path.join(tmp, "stores", name.lower())
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(tmp, "checkpoint")
    os.environ["SPARK_GRAFT_GEPHI_DIR"] = os.path.join(tmp, "gephi")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, REPO)
    data = os.path.join(tmp, "data")
    datagen.write_tables(data)

    import duckdb

    from github_miner_spark import registry
    from github_miner_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")})
    queries = registry.spark_queries()
    oracles = registry.oracle_sqls()
    con = duckdb.connect()
    for t in datagen.make_tables():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    digests, sources, bad = {}, {}, []
    try:
        for name in sorted(set(workloads.GRAPH_OPS) | set(workloads.SCAN_OPS)):
            df = queries[name](spark, data)
            rows = df.collect()
            spark_digest = checks.digest(df.columns, rows)
            if name in oracles:
                res = con.sql(oracles[name])
                oracle_digest = checks.digest(res.columns, res.fetchall())
                if oracle_digest != spark_digest:
                    bad.append(name)
                digests[name], sources[name] = oracle_digest, "oracle"
            else:
                digests[name], sources[name] = spark_digest, "spark"
            print(f"{name}: {sources[name]} rows={len(rows)} {digests[name]}", flush=True)
    finally:
        spark.stop()
    if bad:
        print(f"Spark disagrees with the oracle on: {bad}", file=sys.stderr)
        return 1
    path = workloads.EXPECTED_PATH
    if check:
        with open(path, encoding="utf-8") as f:
            committed = json.load(f)["digests"]
        diff = sorted(n for n in digests if committed.get(n) != digests[n])
        print("mismatch:" if diff else "all digests match", diff or "")
        return 1 if diff else 0
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"table_seed": datagen.TABLE_SEED, "sources": sources, "digests": digests},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
