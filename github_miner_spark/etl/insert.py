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
src/Neo4jClient.ts:176-180). A level is one Spark materialization:
its edges, tagged with whether ``dst`` is new, checkpointed once.

Writes append only the batch's novel rows, keyed on node identity
(id, label) / (src, dst, rel_type) — re-running the job is a no-op. The
label is part of a vertex's identity: a GitUser and a NodeModule may
share a name (user ``chalk`` owning ``chalk/app``, which depends on
module ``chalk``), and both vertices must survive.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.etl.merge import dedupe_batch, novel_rows, read_existing
from github_miner_spark.etl.package_json import (
    extract_dependency_edges,
    read_manifest_lake,
)
from github_miner_spark.functions.pin import pin, pin_observed

EDGE_KEY = ["src", "dst", "rel_type"]
VERTEX_SCHEMA = "id string, label string, name string"
EDGE_SCHEMA = ("src string, dst string, rel_type string, src_label string, dst_label string, "
               "version string")


def _vertex_identity(df: DataFrame) -> DataFrame:
    """``df`` plus ``vkey``: the (id, label) identity as ONE column,
    ``label:id``. Anti-joined on the pair, Catalyst pushes the join
    through the users/repos/modules union and turns each branch's
    literal label into a filter on the existing side, so three
    broadcasts of the vertex table get built; on ``vkey`` every branch
    probes the same one. Labels are a fixed set with no ``:``, so the
    key is injective."""
    return df.withColumn("vkey", F.concat("label", F.lit(":"), "id"))


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
    (resolved_modules, module_edges); a name can repeat in
    resolved_modules (the caller's MERGE dedupes). Names absent from
    the registry stop the recursion (the reference's isNpmModule gate,
    src/Neo4jClient.ts:103-138) but are still returned as modules, so
    edges never dangle — a deliberate divergence from the reference,
    which drops the node and leaves the dependency unrecorded. Raises
    RuntimeError when ``max_iter`` levels still leave a frontier: a
    replay never repairs a truncated closure."""
    frontiers = [seed_modules.select("name")]
    levels: list[DataFrame] = []
    for it in range(max_iter):
        batch = npm_manifests.join(frontiers[-1], "name", "left_semi")
        # dev/peer deps expand THIS level only; main deps recurse —
        # reference semantics (src/Neo4jClient.ts:176-213): at depth>0
        # only the main dependency map is expanded
        if it > 0:
            no_deps = F.lit(None).cast("map<string,string>")
            batch = batch.withColumns({"devDependencies": no_deps, "peerDependencies": no_deps})
        resolved = reduce(DataFrame.unionByName, frontiers)
        known = resolved.distinct().select(F.col("name").alias("dst"), F.lit(True).alias("known"))
        tagged = _manifest_edges(batch, "NodeModule").join(known, "dst", "left")
        # the pin job counts the new rows itself: no emptiness probe
        level, seen = pin_observed(
            tagged.withColumn("new", F.col("known").isNull()).drop("known"),
            new=F.count_if("new"),
        )
        levels.append(level.drop("new"))
        if seen["new"] == 0:  # also ends on an empty level (no registry rows)
            break
        frontiers.append(level.filter("new").select(F.col("dst").alias("name")))
    else:
        raise RuntimeError(f"module closure did not converge in {max_iter} levels")
    return resolved, reduce(DataFrame.unionByName, levels)


def run_insert_job(
    spark: SparkSession,
    lake_dir: str,
    npm_manifests: DataFrame,
    out_vertices: str,
    out_edges: str,
) -> dict[str, int]:
    """E2 end-to-end: read the manifest lake, build user/repo/module
    vertices and all five edge types, expand the module closure, and
    MERGE into the persistent vertex/edge tables (idempotent): one
    append of novel rows per table. Returns the counts read back."""
    lake = pin(read_manifest_lake(spark, lake_dir), eager=True)

    users = lake.select(
        F.col("owner").alias("id"),
        F.lit("GitUser").alias("label"),
        F.col("owner").alias("name"),
    )
    repos = lake.select(
        F.concat_ws("/", "owner", "repo").alias("id"),
        F.lit("GitRepo").alias("label"),
        F.col("repo").alias("name"),
    )
    owns = lake.select(
        F.col("owner").alias("src"),
        F.concat_ws("/", "owner", "repo").alias("dst"),
        F.lit("OWNS").alias("rel_type"),
        F.lit("GitUser").alias("src_label"),
        F.lit("GitRepo").alias("dst_label"),
        F.lit(None).cast("string").alias("version"),
    )

    repo_manifests = lake.withColumn("name", F.concat_ws("/", "owner", "repo"))
    repo_edges = _manifest_edges(repo_manifests, "GitRepo")

    seed = repo_edges.select(F.col("dst").alias("name"))
    resolved, module_edges = expand_module_closure(seed, npm_manifests)
    modules = resolved.select(
        F.col("name").alias("id"), F.lit("NodeModule").alias("label"), "name"
    )

    vertices = users.unionByName(repos).unionByName(modules)
    edges = owns.unionByName(repo_edges).unionByName(module_edges)

    for path, df, schema, key, identify in (
        (out_vertices, vertices, VERTEX_SCHEMA, ["vkey"], _vertex_identity),
        (out_edges, edges, EDGE_SCHEMA, EDGE_KEY, lambda frame: frame),
    ):
        existing = read_existing(spark, path, schema)
        if existing is None:
            rows, mode = dedupe_batch(identify(df), key), "error"
        else:
            rows, mode = novel_rows(identify(existing), identify(df), key), "append"
        rows.select(df.columns).write.mode(mode).parquet(path)
    return {
        "vertices": spark.read.schema(VERTEX_SCHEMA).parquet(out_vertices).count(),
        "edges": spark.read.schema(EDGE_SCHEMA).parquet(out_edges).count(),
    }
