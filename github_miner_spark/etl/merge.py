"""Idempotent set-at-a-time writes (SURVEY.md §2.6 D2, §2.1 S8).

The reference gates every node/edge CREATE behind a per-row existence
check (Redis sismember + Cypher EXISTS,
src/GitHubMinerHelper.ts:73-89, src/Neo4jClient.ts:443-514) — ~10
network round-trips per row. The Spark-native equivalent is MERGE-style
batch upsert: dedupe the incoming batch, anti-join against the existing
table, append only the novel keys. One shuffle per batch instead of one
round-trip per row; idempotent under replay, which is what the
reference's checkpoint/resume loop actually needs.

A MERGE appends ``novel_rows`` (``etl/insert.py:run_insert_job``), so
a batch costs in proportion to the batch and never rewrites the table.
Each batch adds part files, a replay one schema-only file per table;
compaction is out of scope.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def dedupe_batch(batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Within-batch dedup on the identity key (reference: first write
    wins via Redis set membership)."""
    return batch.dropDuplicates(list(keys))


def novel_rows(existing: DataFrame, batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Just the to-be-appended rows (what a MERGE INSERT clause sees)."""
    return dedupe_batch(batch, keys).join(existing, list(keys), "left_anti")


def read_existing(spark: SparkSession, path: str, schema: str) -> DataFrame | None:
    """The parquet table at ``path`` read with ``schema``, or None when
    nothing was written there yet (probed on the Hadoop FileSystem, not
    by a failed read). Any other failure (a corrupt part file, an
    unreadable dir) propagates: an unreadable table is never "empty"."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath):
        return None
    return spark.read.schema(schema).parquet(path)
