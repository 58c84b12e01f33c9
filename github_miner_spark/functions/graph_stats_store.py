"""Materialized anchored-reachability rollup: the exact h-hop
neighborhood sizes of the ANF anchor set, computed once per graph and
served to the grading side of anf_neighborhood_function.

Same corpus-constant class as the walk corpus, the BPE merge table,
and the source-overlap rollup (VERDICT r8 item 4's pattern): the
exact counts exist only to GRADE the HyperANF sketch, they are a pure
function of (graph base tables, anchor spec, hop count), and
recomputing the anchored BFS every run was the largest slice of the
watch's most expensive remaining entry. The ORACLE keeps re-deriving
the exact counts from spec (a depth-bounded recursive CTE), so a
stale or corrupted rollup hash-mismatches instead of grading itself.

Content-addressed by the graph base tables + a spec version; landed
by the shared publish step (io/store_key.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.io.store_key import (
    GRAPH_BASE_TABLES,
    PARQUET_DIR_ENTRIES,
    content_key,
    publish,
    read_store,
)

STORE_ROOT = os.environ.get(
    "SPARK_GRAFT_GRAPH_STATS_STORE", "/tmp/spark-graft-graph-stats"
)

# Bump when the anchor spec / hop count / BFS semantics change:
# participates in the content address.
ANCHOR_REACH_SPEC_VERSION = "anchors-lt120-h3-v1"

ANF_ANCHOR_MAX = 120
ANF_HOPS = 3


def _store_dir(sf_dir: str) -> str:
    key = content_key(
        sf_dir,
        [(n, n) for n in GRAPH_BASE_TABLES],
        extra=(ANCHOR_REACH_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def build_anchor_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, h, exact_reached) for every anchor (src < ANF_ANCHOR_MAX)
    and h = 1..ANF_HOPS: exact BFS over the module DEPENDS_ON graph,
    reached(h) = 1 + |{v : min-depth(v) <= h}| — the identical
    derivation the query ran inline before the rollup existed."""
    from github_miner_spark.graph.paths import bfs_depths
    from github_miner_spark.graph.store import load_graph

    g = load_graph(spark, sf_dir)
    e = pin(g.module_dep_edges().select("src", "dst"), eager=True)
    anchors = sorted(
        r["src"]
        for r in e.filter(F.col("src") < ANF_ANCHOR_MAX)
        .select("src")
        .distinct()
        .collect()
    )
    depths = pin(
        bfs_depths(e, roots=anchors, broadcast_frontier=True)
        .filter(F.col("depth") <= ANF_HOPS),
        eager=True,
    )
    exact = None
    for h in range(1, ANF_HOPS + 1):
        ex_h = (
            depths.filter(F.col("depth") <= h)
            .groupBy(F.col("root").alias("node"))
            .agg((F.count("*") + 1).cast("bigint").alias("exact_reached"))
            .withColumn("h", F.lit(h))
        )
        exact = ex_h if exact is None else exact.unionByName(ex_h)
    return exact.select("node", "h", "exact_reached")


def materialize_anchor_reach(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the rollup for ``sf_dir`` exists on disk; return its
    parquet path."""

    def write(stage: str) -> None:
        build_anchor_reach(spark, sf_dir).write.mode("overwrite").parquet(stage)

    return publish(
        STORE_ROOT,
        os.path.join(_store_dir(sf_dir), "anchor_reach.parquet"),
        PARQUET_DIR_ENTRIES,
        write,
    )


def load_anchor_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, h, exact_reached) from the materialized rollup."""
    return read_store(spark, materialize_anchor_reach(spark, sf_dir))


def anchor_nodes(spark: SparkSession, sf_dir: str) -> list[int]:
    """Sorted anchor ids straight from the rollup's parquet files —
    a driver-side pyarrow read (guide §5: no Spark job for a loop
    constant). The rollup's node set IS the anchor set (every src <
    ANF_ANCHOR_MAX, the same distinct the inline derivation
    collected), so consumers that need the anchors as Python values
    (kernel keep-sets, broadcast frames) read them here instead of
    running a distinct+collect job over the edge relation."""
    import pyarrow.parquet as pq

    path = materialize_anchor_reach(spark, sf_dir)
    nodes: set[int] = set()
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            nodes.update(
                pq.read_table(os.path.join(path, f), columns=["node"])
                .column("node")
                .to_pylist()
            )
    return sorted(nodes)
