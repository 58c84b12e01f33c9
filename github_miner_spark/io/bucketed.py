"""Bucketed edge store: pre-shuffled co-location for repeated joins.

At 100 TB the dominant cost of the graph workload is re-shuffling the
edges table on the same keys query after query. Bucketing moves that
shuffle to WRITE time: ``bucketBy(n, dst).sortBy(dst)`` hash-partitions
the rows into n bucket files per partition, and Catalyst then satisfies
any join or aggregation keyed on ``dst`` straight from the bucket
layout — no Exchange in the plan (tests/test_plan_shapes.py pins
this). The cluster-scale recipe: bucket count sized to the target
parallelism, both join sides bucketed into the SAME count on the join
key, sortBy so sort-merge joins skip their sort too.

The table registers in the session catalog with an explicit external
location (content-addressed per source dir, like the other stores);
with Spark's in-memory catalog the metadata is session-scoped, so
``ensure_bucketed_edges`` is an idempotent per-session registration
that reuses the already-written files.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STORE_ROOT = os.environ.get("SPARK_GRAFT_BUCKET_STORE", "/tmp/spark-graft-bucketed")
# bucket files per write partition; both sides of a bucketed join read
# the one table, so they always agree on the count
BUCKETS = 8


def _table_name(sf_dir: str) -> str:
    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"edges_dst_b{BUCKETS}_{h}"


def ensure_bucketed_edges(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently register (and on first use materialize) the edges
    table bucketed by ``dst``; returns the catalog table name."""
    from github_miner_spark.graph.store import load_graph

    name = _table_name(sf_dir)
    if spark.catalog.tableExists(name):
        return name
    location = os.path.join(STORE_ROOT, name)
    edges = load_graph(spark, sf_dir).edges
    (
        edges.write.format("parquet")
        .bucketBy(BUCKETS, "dst")
        .sortBy("dst")
        .option("path", location)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return name


def bucketed_dependant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-module dependant counts computed on the bucketed table: the
    groupBy(dst) is satisfied by the bucket layout — zero Exchange."""
    name = ensure_bucketed_edges(spark, sf_dir)
    t = spark.table(name).filter(F.col("rel_type") == "DEPENDS_ON")
    return t.groupBy("dst").agg(F.count("*").alias("dependants"))


def bucketed_co_dependant_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on ``dst`` (module pairs sharing a dependant) over the
    bucketed table: both sides read the same bucket layout, so when the
    planner picks a sort-merge join — the only choice once the table is
    too big to broadcast, i.e. always at scale — it runs with NO
    shuffle and NO per-side sort (bucketBy + sortBy satisfy both
    requirements from the file layout). Returns (dst, ma, mb) rows."""
    name = ensure_bucketed_edges(spark, sf_dir)
    t = spark.table(name).filter(F.col("rel_type") == "DEPENDS_ON")
    a = t.select(F.col("src").alias("ma"), "dst").alias("a")
    b = t.select(F.col("src").alias("mb"), "dst").alias("b")
    return a.join(b, "dst").filter(F.col("ma") < F.col("mb")).select("dst", "ma", "mb")
