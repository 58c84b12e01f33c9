"""Idempotent set-at-a-time writes (SURVEY.md §2.6 D2, §2.1 S8).

The reference gates every node/edge CREATE behind a per-row existence
check (Redis sismember + Cypher EXISTS,
src/GitHubMinerHelper.ts:73-89, src/Neo4jClient.ts:443-514) — ~10
network round-trips per row. The Spark-native equivalent is MERGE-style
batch upsert: dedupe the incoming batch, anti-join against the existing
table, append only the novel keys. One shuffle per batch instead of one
round-trip per row; idempotent under replay, which is what the
reference's checkpoint/resume loop actually needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameReader


def dedupe_batch(batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Within-batch dedup on the identity key (reference: first write
    wins via Redis set membership)."""
    return batch.dropDuplicates(list(keys))


def merge_append(existing: DataFrame, batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Return existing ∪ (batch rows whose key is not yet present).

    The anti-join replaces the reference's EXISTS-before-CREATE; the
    result is the post-merge table. At scale, write the novel rows with
    ``df.write.mode("append")`` into a table partitioned/bucketed on
    the key (or use a MERGE-capable format); the logic here is
    format-agnostic."""
    novel = dedupe_batch(batch, keys).join(existing, list(keys), "left_anti")
    return existing.unionByName(novel)


def novel_rows(existing: DataFrame, batch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Just the to-be-appended rows (what a MERGE INSERT clause sees)."""
    return dedupe_batch(batch, keys).join(existing, list(keys), "left_anti")


def read_existing(reader: DataFrameReader, path: str) -> DataFrame | None:
    """``reader.parquet(path)``, or None when nothing was written there
    yet. Only a missing path means "empty": any other failure (a corrupt
    part file, an unreadable dir) propagates, so a caller that would
    overwrite ``path`` with a merge never replaces a table it could not
    read with just the current batch."""
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
