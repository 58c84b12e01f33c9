"""File sinks: CSV / JSON / parquet writers with read-back helpers
(SURVEY.md §2.1 S7-S9).

The reference lands raw JSON per entity (src/GitHubMinerHelper.ts:94,129;
src/Neo4jClient.ts:534) and exports query results to CSV for pandas
post-processing (18 files under analysis/). Spark-first equivalents:
``df.write`` with explicit formats, one directory per dataset, partition
count controlled by the caller. Snapshot/restore (reference
package.json:13-15 neo4j-admin dump/load) is a parquet copy of the
vertices/edges store.

Scale notes: CSV is the interchange sink only — it carries no schema,
so ``read_csv_back`` takes the schema explicitly (never inferSchema on
100 TB). ``coalesce(n)`` trades write parallelism for file count; the
default keeps the upstream partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_csv(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """Header'd CSV export — the analysis/*.csv sink (S9)."""
    out = df.coalesce(num_files) if num_files else df
    out.write.mode("overwrite").option("header", True).csv(path)


def read_csv_back(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """JSON-lines export — the file-lake sink (S7)."""
    out = df.coalesce(num_files) if num_files else df
    out.write.mode("overwrite").json(path)


def read_json_back(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    order_col: str,
    num_shards: int,
    max_records_per_file: int | None = None,
) -> dict[str, int]:
    """Training-data export: deterministic range-sharded parquet.

    ``repartitionByRange(order_col)`` gives contiguous, globally-ordered
    shards (a training loader can stream shard 0..N-1 and see the corpus
    in key order — and range partitioning means per-shard min/max stats
    prune key lookups); ``maxRecordsPerFile`` caps file size so a 100 TB
    export emits bounded, parallel-loadable files. Writes a _MANIFEST
    json with row and shard counts for loader-side integrity checks."""
    import json as _json
    import os as _os

    writer = df.repartitionByRange(num_shards, F.col(order_col)).sortWithinPartitions(
        order_col
    ).write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    spark = df.sparkSession
    n_rows = spark.read.schema(df.schema).parquet(path).count()
    n_files = len([f for f in _os.listdir(path) if f.endswith(".parquet")])
    manifest = {"rows": n_rows, "files": n_files, "order_col": order_col}
    with open(_os.path.join(path, "_MANIFEST.json"), "w") as fh:
        _json.dump(manifest, fh)
    return manifest


def snapshot(df: DataFrame, path: str) -> None:
    """Table snapshot (neo4j-admin dump analog, S11): parquet copy."""
    df.write.mode("overwrite").parquet(path)


def restore(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# -- Gephi graph-streaming sink (S10) ----------------------------------


def gephi_events(edges: DataFrame) -> DataFrame:
    """Gephi graph-streaming events for a batch of edges (S10).

    The reference streams query sub-graphs into Gephi via
    ``apoc.gephi.add`` (documentation/queries.md:200-210, 350-358),
    which POSTs the graph-streaming JSON protocol: one ``{"an": {id:
    attrs}}`` add-node event per endpoint and one ``{"ae": {id:
    attrs}}`` add-edge event per relationship. This builds those event
    lines declaratively (to_json over map/struct columns — pure
    Catalyst, no Python in the row path). Returns a 1-column DataFrame
    (``value`` string), node events before edge events, exactly the
    line protocol a Gephi master workspace accepts.
    """
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        F.coalesce(F.col("rel_type"), F.lit("EDGE")).alias("rel_type")
        if "rel_type" in edges.columns
        else F.lit("EDGE").alias("rel_type"),
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            F.to_json(
                F.struct(
                    F.create_map(
                        F.col("id"), F.struct(F.col("id").alias("label"))
                    ).alias("an")
                )
            ).alias("value")
        )
    )
    edge_events = e.select(
        F.to_json(
            F.struct(
                F.create_map(
                    F.concat_ws("-", "src", "dst"),
                    F.struct(
                        F.col("src").alias("source"),
                        F.col("dst").alias("target"),
                        F.lit(True).alias("directed"),
                        F.col("rel_type").alias("label"),
                    ),
                ).alias("ae")
            )
        ).alias("value")
    )
    return nodes.unionByName(edge_events)


def gephi_stream_sink(
    edge_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Streaming S10 sink: foreachBatch -> Gephi event lines.

    Each micro-batch is converted with :func:`gephi_events` and appended
    as JSON-lines text — the on-disk stand-in for POSTing each line to
    ``http://<gephi-host>:8080/<workspace>?operation=updateGraph`` (the
    apoc.gephi.add transport; live HTTP is stubbed in this sandbox like
    the reference's other network edges, SURVEY.md §7). Returns the
    started StreamingQuery; ``availableNow`` drains bounded sources.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        gephi_events(batch_df).coalesce(1).write.mode("append").text(out_path)

    writer = (
        edge_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def gephi_node_events(node_ids: DataFrame) -> DataFrame:
    """Add-node event lines for a node-only sub-graph (the ``[*0]``
    zero-length-path stream shape, reference documentation/
    queries.md:200-210): one ``{"an": ...}`` line per node, no edges."""
    return (
        node_ids.select(F.col(node_ids.columns[0]).cast("string").alias("id"))
        .distinct()
        .select(
            F.to_json(
                F.struct(
                    F.create_map(
                        F.col("id"), F.struct(F.col("id").alias("label"))
                    ).alias("an")
                )
            ).alias("value")
        )
    )
