"""The insert stage (reference E2, src/insertData.ts +
src/InsertDataHelper.ts + src/Neo4jClient.ts): manifest lake -> property
graph, with the recursive npm dependency-closure expansion (R1-R3),
re-expressed set-at-a-time.

The reference walks the lake file-by-file and, per module, does
get-or-create + EXISTS-gated edge creates + recursive DFS through the
npm cache — ~10 Bolt round-trips per row. Here each loop level is one
batch: resolve the WHOLE frontier of unresolved modules against the
npm-metadata table in a single join, emit all their edges, and the next
frontier is (new dependency targets) anti-join (already resolved) —
the visited-set form of the reference's "only recurse on first
creation" cycle guard (src/Neo4jClient.ts:321-327). Dev/peer deps
expand one level, then main deps recurse (R2/R3 semantics,
src/Neo4jClient.ts:176-180).

Writes are idempotent MERGE-style appends keyed on node identity /
(src, dst, rel_type) — re-running the job is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.etl.merge import merge_append, read_existing
from github_miner_spark.etl.package_json import (
    extract_dependency_edges,
    read_manifest_lake,
)

VERTEX_KEY = ["id"]
EDGE_KEY = ["src", "dst", "rel_type"]


def _manifest_edges(manifests: DataFrame, src_label: str) -> DataFrame:
    e = extract_dependency_edges(manifests, src_col="name")
    return e.select(
        "src",
        "dst",
        "rel_type",
        F.lit(src_label).alias("src_label"),
        F.lit("NodeModule").alias("dst_label"),
        "version",
    )


def expand_module_closure(
    seed_modules: DataFrame,
    npm_manifests: DataFrame,
    max_iter: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """Frontier-batch dependency closure (R1): resolve modules against
    the npm-metadata table level by level until no new names appear.

    seed_modules: 1-column DF ``name``. npm_manifests: manifest rows
    keyed by ``name`` (the npm registry cache as a table). Returns
    (resolved_modules, module_edges). Names absent from the registry
    stop the recursion (the reference's isNpmModule gate,
    src/Neo4jClient.ts:103-138) but are still returned as modules, so
    edges never dangle — a deliberate divergence from the reference,
    which drops the node and leaves the dependency unrecorded."""
    spark = seed_modules.sparkSession
    frontier = seed_modules.select("name").distinct().localCheckpoint(eager=True)
    resolved = spark.createDataFrame([], "name string")
    edge_parts: list[DataFrame] = []
    for it in range(max_iter):
        batch = npm_manifests.join(frontier, "name", "left_semi").localCheckpoint(eager=True)
        resolved = resolved.unionByName(frontier).distinct().localCheckpoint(eager=True)
        if batch.isEmpty():
            break
        # dev/peer deps expand THIS level only; main deps recurse —
        # reference semantics (src/Neo4jClient.ts:176-213): at depth>0
        # only the main dependency map is expanded
        manifests_level = batch if it == 0 else batch.withColumn(
            "devDependencies", F.lit(None).cast("map<string,string>")
        ).withColumn("peerDependencies", F.lit(None).cast("map<string,string>"))
        edges = _manifest_edges(manifests_level, "NodeModule").localCheckpoint(eager=True)
        edge_parts.append(edges)
        frontier = (
            edges.select(F.col("dst").alias("name"))
            .distinct()
            .join(resolved, "name", "left_anti")
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
    if edge_parts:
        all_edges = edge_parts[0]
        for p in edge_parts[1:]:
            all_edges = all_edges.unionByName(p)
        all_edges = all_edges.dropDuplicates(EDGE_KEY)
    else:
        all_edges = spark.createDataFrame(
            [], "src string, dst string, rel_type string, src_label string, "
            "dst_label string, version string"
        )
    return resolved, all_edges


def run_insert_job(
    spark: SparkSession,
    lake_dir: str,
    npm_manifests: DataFrame,
    out_vertices: str,
    out_edges: str,
) -> dict[str, int]:
    """E2 end-to-end: read the manifest lake, build user/repo/module
    vertices and all five edge types, expand the module closure, and
    MERGE into the persistent vertex/edge tables (idempotent)."""
    lake = read_manifest_lake(spark, lake_dir).localCheckpoint(eager=True)

    users = lake.select(
        F.col("owner").alias("id"),
        F.lit("GitUser").alias("label"),
        F.col("owner").alias("name"),
    ).distinct()
    repos = lake.select(
        F.concat_ws("/", "owner", "repo").alias("id"),
        F.lit("GitRepo").alias("label"),
        F.col("repo").alias("name"),
    ).distinct()
    owns = lake.select(
        F.col("owner").alias("src"),
        F.concat_ws("/", "owner", "repo").alias("dst"),
        F.lit("OWNS").alias("rel_type"),
        F.lit("GitUser").alias("src_label"),
        F.lit("GitRepo").alias("dst_label"),
        F.lit(None).cast("string").alias("version"),
    ).distinct()

    repo_manifests = lake.withColumn("name", F.concat_ws("/", "owner", "repo"))
    repo_edges = _manifest_edges(repo_manifests, "GitRepo")

    seed = repo_edges.select(F.col("dst").alias("name"))
    resolved, module_edges = expand_module_closure(seed, npm_manifests)
    modules = resolved.select(
        F.col("name").alias("id"), F.lit("NodeModule").alias("label"), "name"
    )

    vertices = users.unionByName(repos).unionByName(modules)
    edges = owns.unionByName(repo_edges).unionByName(module_edges).dropDuplicates(EDGE_KEY)

    for path, df, key in (
        (out_vertices, vertices, VERTEX_KEY),
        (out_edges, edges, EDGE_KEY),
    ):
        existing = read_existing(spark.read, path)
        if existing is None:
            merged = df
        else:
            merged = merge_append(existing, df, key).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)
    return {
        "vertices": spark.read.parquet(out_vertices).count(),
        "edges": spark.read.parquet(out_edges).count(),
    }
