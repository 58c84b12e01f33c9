"""ETL-side queries (SURVEY.md §2.1 S5-S8, §2.2 P2-P5, §2.6 D2,
§2.9 F8-F10): JSON extraction, manifest map round-trips, dependency
totals, and idempotent merge semantics — all oracle-checked.

The manifest queries synthesize per-module manifests FROM the graph
edges (collect_list -> map_from_entries), then run the real ingestion
path (explode the maps back to edges); the oracle states the expected
result directly from the edge relation, so the map build + explode
round-trip is what's being proven.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.etl.merge import novel_rows
from github_miner_spark.etl.package_json import extract_dependency_edges
from github_miner_spark.graph.model import (
    GRAPH_ORACLE_CTES,
    NODE_MODULE,
)
from github_miner_spark.graph.store import load_graph
from github_miner_spark.io.tables import load_table
from github_miner_spark.registry import register


def _module_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize manifest rows (name, dependencies/devDependencies/
    peerDependencies maps) for every module from the module->module
    edges — the inverse of ingestion, used to exercise ingestion."""
    e = load_graph(spark, sf_dir).edges
    mm = e.filter((e.src_label == NODE_MODULE) & (e.dst_label == NODE_MODULE) & (e.src != e.dst))
    per_rel = (
        mm.groupBy("src", "rel_type")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct(F.col("dst").cast("string"), F.col("version"))))
            ).alias("deps")
        )
    )
    return (
        per_rel.groupBy("src")
        .pivot("rel_type", ["DEPENDS_ON", "DEV_DEPENDS_ON", "PEER_DEPENDS_ON"])
        .agg(F.first("deps"))
        .withColumnRenamed("DEPENDS_ON", "dependencies")
        .withColumnRenamed("DEV_DEPENDS_ON", "devDependencies")
        .withColumnRenamed("PEER_DEPENDS_ON", "peerDependencies")
        .withColumn("name", F.col("src").cast("string"))
    )


@register(
    "manifest_edge_roundtrip",
    oracle=GRAPH_ORACLE_CTES
    + """
    SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
           rel_type, version
    FROM edges
    WHERE src_label = 'NodeModule' AND dst_label = 'NodeModule' AND src <> dst
    ORDER BY src, dst, rel_type
    """,
    description="Manifest ingestion round-trip: build dependency maps per "
    "module, explode back through extract_dependency_edges — must "
    "reproduce the edge relation exactly (reference edge-insert loops, "
    "src/Neo4jClient.ts:140-231)",
    tags=("etl", "explode", "map"),
)
def manifest_edge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifests = _module_manifests(spark, sf_dir)
    edges = extract_dependency_edges(manifests, src_col="name")
    return edges.select("src", "dst", "rel_type", "version").orderBy("src", "dst", "rel_type")


@register(
    "manifest_dependency_totals",
    oracle=GRAPH_ORACLE_CTES
    + """
    SELECT CAST(src AS VARCHAR) AS name,
           count(*) FILTER (WHERE rel_type = 'DEPENDS_ON') AS dependenciesTotal,
           count(*) FILTER (WHERE rel_type = 'DEV_DEPENDS_ON') AS devDependenciesTotal,
           count(*) FILTER (WHERE rel_type = 'PEER_DEPENDS_ON') AS peerDependenciesTotal
    FROM edges
    WHERE src_label = 'NodeModule' AND dst_label = 'NodeModule' AND src <> dst
    GROUP BY src
    ORDER BY name
    """,
    description="Computed dependency-count columns from the manifest maps "
    "(reference dependenciesTotal, src/Neo4jClient.ts:246-248)",
    tags=("etl", "map", "agg"),
)
def manifest_dependency_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifests = _module_manifests(spark, sf_dir)

    def total(colname: str):
        return F.when(F.col(colname).isNull(), F.lit(0)).otherwise(
            F.size(F.map_keys(F.col(colname)))
        ).cast("long")

    return (
        manifests.select(
            "name",
            total("dependencies").alias("dependenciesTotal"),
            total("devDependencies").alias("devDependenciesTotal"),
            total("peerDependencies").alias("peerDependenciesTotal"),
        )
        .orderBy("name")
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    description="Schema-on-read JSON field extraction from the events props "
    "column (reference JSON.parse surface, F8)",
    tags=("etl", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.avg(k).alias("avg_k"))
        .orderBy("event_type")
    )


@register(
    "idempotent_merge",
    oracle=GRAPH_ORACLE_CTES
    + """
    SELECT count(*) AS total_edges, count(DISTINCT (src, dst, rel_type)) AS distinct_keys
    FROM edges
    """,
    description="Idempotent MERGE: re-applying the full edge batch over the "
    "existing edge table must not grow it (reference EXISTS-gated "
    "inserts, src/Neo4jClient.ts:443-514, replaced by anti-join merge)",
    tags=("etl", "merge", "dedup"),
)
def idempotent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_graph(spark, sf_dir).edges
    keys = ["src", "dst", "rel_type"]
    merged = e.unionByName(novel_rows(e, e, keys))  # replay the same batch
    return merged.agg(
        F.count("*").alias("total_edges"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("distinct_keys"),
    )
