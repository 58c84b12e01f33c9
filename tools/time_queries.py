#!/usr/bin/env python
"""Isolated per-query timing: DataFrame construction, then the noop sink.

Usage:
    python tools/time_queries.py <query> [<query> ...]

Times each named registry query in two parts after one warmup pass,
labelled via setJobDescription: building the DataFrame (the query
function's Python side, including any eager driver work it does), and
df.write.format("noop") on the result — every column of every row
computed, nothing written. Prints one line per query:
    <name> build_median=<s> noop_median=<s> compiles=<n> build_samples=[...] samples=[...]
``compiles`` is the number of generated classes Janino compiled for the
query in the last timed pass: above 0 on a warm pass, the query's code
differs from run to run or the session's codegen cache is too small.
Env: SPARK_GRAFT_TIME_PASSES (default 5), SPARK_GRAFT_SF_DIR; the
session takes the session.get_spark defaults (SPARK_GRAFT_CPUS,
SPARK_GRAFT_SHUFFLE_PARTITIONS). Passes are round-robin across the
requested queries (the bench's interleaving discipline) so an ambient
burst lands on one pass of every query, which the median rejects.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    names = sys.argv[1:]
    passes = int(os.environ.get("SPARK_GRAFT_TIME_PASSES", "5"))

    from github_miner_spark import registry
    from github_miner_spark.session import compile_count, get_spark

    spark = get_spark(app_name="time-queries")
    specs = registry.all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    from github_miner_spark.graph.store import materialize_graph

    materialize_graph(spark, SF_DIR)

    def run(name: str) -> tuple[float, float, int]:
        spark.sparkContext.setJobDescription(f"time: {name}")
        c0 = compile_count(spark)
        t0 = time.perf_counter()
        df = specs[name].spark(spark, SF_DIR)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark.sparkContext.setJobDescription(None)
        return round(t1 - t0, 3), round(t2 - t1, 3), compile_count(spark) - c0

    for name in names:  # warmup
        run(name)
    build: dict[str, list[float]] = {n: [] for n in names}
    samples: dict[str, list[float]] = {n: [] for n in names}
    compiles: dict[str, int] = {}
    for _ in range(passes):
        for name in names:
            b, t, compiles[name] = run(name)
            build[name].append(b)
            samples[name].append(t)
    for name in names:
        bs, ts = build[name], samples[name]
        print(
            f"{name} build_median={round(statistics.median(bs), 3)} "
            f"noop_median={round(statistics.median(ts), 3)} "
            f"compiles={compiles[name]} "
            f"build_samples={bs} samples={ts}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
