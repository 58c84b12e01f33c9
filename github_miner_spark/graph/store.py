"""Materialized graph store: build the (vertices, edges) tables once
per scale factor, persist as parquet, and serve every graph query from
the materialized copy.

This mirrors the reference's architecture — stage 2 loads the property
graph into Neo4j ONCE, and the whole query corpus (stage 3) runs
against that materialized store — and is the right shape at 100 TB:
the derivation (unions + joins over the base tables) is ETL, paid once;
queries then scan a compact columnar edge table with min/max statistics
on the BIGINT keys instead of re-running the derivation per query.

The store is content-addressed by source directory and landed by the
shared publish step (io/store_key.py).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from github_miner_spark.graph.model import PropertyGraph, build_edges, build_vertices
from github_miner_spark.io.store_key import (
    GRAPH_BASE_TABLES,
    content_key,
    publish,
    read_store,
)

STORE_ROOT = os.environ.get("SPARK_GRAFT_GRAPH_STORE", "/tmp/spark-graft-graph")


def _store_dir(sf_dir: str) -> str:
    """Key = source path + (name, size, mtime) of the base-table files,
    so a regenerated source dir at the same path never serves a stale
    store (shared helper: io/store_key.py)."""
    key = content_key(sf_dir, [(n, n) for n in GRAPH_BASE_TABLES])
    return os.path.join(STORE_ROOT, key)


def materialize_graph(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the graph tables for ``sf_dir`` exist on disk; return the
    store path."""

    def write(stage: str) -> None:
        build_vertices(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(stage, "vertices.parquet")
        )
        # sort within partitions by dst: degree/dependants scans cluster
        # the hot aggregation key, and parquet min/max stats prune
        # selective dst lookups
        build_edges(spark, sf_dir).sortWithinPartitions("dst").write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "edges.parquet"))

    return publish(
        STORE_ROOT, _store_dir(sf_dir), ("vertices.parquet", "edges.parquet"), write
    )


def load_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """The graph-query entry point: materialize (once) and read."""
    base = materialize_graph(spark, sf_dir)
    return PropertyGraph(
        vertices=read_store(spark, os.path.join(base, "vertices.parquet")),
        edges=read_store(spark, os.path.join(base, "edges.parquet")),
    )


def save_graph(graph: PropertyGraph, path: str) -> str:
    """Persist a (possibly mutated) PropertyGraph as a new store at
    ``path`` — the scale-path counterpart of Cypher writes: a delete
    script (graph/mutations.py) produces new immutable frames, and
    committing them IS a store rewrite, exactly like the reference's
    neo4j-admin dump of a modified database. Atomic tmp-dir + rename;
    edges keep the dst sort so the rewritten store prunes like the
    original."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="building-", dir=parent)
    try:
        graph.vertices.write.mode("overwrite").parquet(
            os.path.join(tmp, "vertices.parquet")
        )
        graph.edges.sortWithinPartitions("dst").write.mode("overwrite").parquet(
            os.path.join(tmp, "edges.parquet")
        )
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        return path
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def load_graph_from(spark: SparkSession, path: str) -> PropertyGraph:
    """Read a store previously written by :func:`save_graph`."""
    return PropertyGraph(
        vertices=read_store(spark, os.path.join(path, "vertices.parquet")),
        edges=read_store(spark, os.path.join(path, "edges.parquet")),
    )
