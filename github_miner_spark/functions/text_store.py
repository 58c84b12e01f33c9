"""Materialized text-feature store: the shingle inverted index built
once per source dir, served to every dedup/similarity query.

Same architecture as graph/store.py and the same reasoning at 100 TB:
tokenizing and shingling the corpus is ETL — a regex+md5 pass over
every byte — and no query should pay it again. Dedup pipelines run
MANY passes over the same index (Jaccard, MinHash bands, cluster
resolution), so the index is the natural materialization boundary:
content-addressed by the documents file (path + size + mtime), landed
by the shared publish step (io/store_key.py), sorted within
partitions by shingle so the index self-join gets clustered keys and
min/max pruning."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.io.store_key import (
    PARQUET_DIR_ENTRIES,
    content_key,
    publish,
    read_store,
)

STORE_ROOT = os.environ.get("SPARK_GRAFT_TEXT_STORE", "/tmp/spark-graft-text")


def _store_dir(sf_dir: str) -> str:
    key = content_key(sf_dir, [("documents", "documents.parquet")])
    return os.path.join(STORE_ROOT, key)


def materialize_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the shingle index for ``sf_dir`` exists on disk; return
    the store path."""
    from github_miner_spark.functions.dedup import shingle_index
    from github_miner_spark.io.tables import load_table

    def write(stage: str) -> None:
        docs = load_table(spark, "documents", sf_dir)
        shingle_index(docs).sortWithinPartitions("shingle").write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "shingles.parquet"))

    return publish(STORE_ROOT, _store_dir(sf_dir), ("shingles.parquet",), write)


def load_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) inverted index from the materialized store."""
    base = materialize_text_index(spark, sf_dir)
    return read_store(spark, os.path.join(base, "shingles.parquet"))


def materialize_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> str:
    """Ensure the near-dup PAIR set (word-3-gram Jaccard >= threshold)
    for ``sf_dir`` exists on disk; return its parquet path.

    Pair detection is the second ETL boundary of the dedup pipeline:
    the candidate join over the shingle index is the expensive pass,
    and its product — (src, dst) doc pairs, dup-pair-bounded, tiny
    relative to the corpus — feeds cluster resolution, canonical-keeper
    selection AND split assignment. Published beside the shingle index
    (the store dir key already folds in the documents file's
    path/size/mtime), named by the threshold."""
    from github_miner_spark.functions.dedup import jaccard_pairs
    from github_miner_spark.io.tables import load_table

    base = materialize_text_index(spark, sf_dir)

    def write(stage: str) -> None:
        docs = load_table(spark, "documents", sf_dir)
        idx = read_store(spark, os.path.join(base, "shingles.parquet"))
        jaccard_pairs(docs, threshold=threshold, index=idx).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).write.mode("overwrite").parquet(stage)

    name = f"dup_pairs_t{int(round(threshold * 100))}.parquet"
    return publish(
        STORE_ROOT, os.path.join(base, name), PARQUET_DIR_ENTRIES, write
    )


def load_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """(src, dst) near-dup doc pairs from the materialized store."""
    return read_store(spark, materialize_dup_pairs(spark, sf_dir, threshold))


# Version suffix of the source-overlap rollup's on-disk layout AND its
# algebra (3-gram shingles from the index, 60-bit md5-prefix hashes).
# Bump it when either changes — the artifact name participates in the
# content address, so an old-algebra rollup can never serve a
# new-algebra query (the walk store's spec-version discipline).
SOURCE_OVERLAP_VERSION = "v1"


def materialize_source_overlap(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the SOURCE-level shingle rollup exists beside the shingle
    index; return its directory. Three artifacts, all pure functions of
    (documents, shingle spec):

    - source_shingles.parquet: per-source DISTINCT shingles with their
      60-bit md5-prefix hash (the KMV sketch input),
    - source_sizes.parquet: (source, n) distinct-shingle counts,
    - pair_inter.parquet: (sa, sb, exact_inter) exact pairwise
      intersection cardinalities — the shingle self-join that used to
      be the slowest watch entry's per-run cost (VERDICT r8 item 4).

    The per-pair EXACT set-operation cardinalities are corpus
    constants, exactly like the walk corpus and the BPE merge table;
    queries that GRADE sketches against them read the rollup, while
    their oracles keep re-deriving everything from spec — a stale or
    corrupted rollup fails the oracle hash check instead of silently
    passing."""
    from github_miner_spark.functions.text import token_hash60
    from github_miner_spark.io.tables import load_table

    base = materialize_text_index(spark, sf_dir)

    def write(stage: str) -> None:
        docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
        idx = read_store(spark, os.path.join(base, "shingles.parquet"))
        ss = pin(
            idx.join(docs, "doc_id")
            .select("source", "shingle")
            .distinct()
            .select(
                "source",
                "shingle",
                token_hash60(F.col("shingle").cast("string")).alias("kh"),
            ),
            eager=True,
        )
        ss.sortWithinPartitions("shingle").write.mode("overwrite").parquet(
            os.path.join(stage, "source_shingles.parquet")
        )
        ss.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n")
        ).write.mode("overwrite").parquet(
            os.path.join(stage, "source_sizes.parquet")
        )
        a, b = ss.alias("a"), ss.alias("b")
        (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.source") < F.col("b.source")),
            )
            .groupBy(
                F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
            )
            .agg(F.count("*").cast("bigint").alias("exact_inter"))
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "pair_inter.parquet"))
        )

    return publish(
        STORE_ROOT,
        os.path.join(base, f"source_overlap_{SOURCE_OVERLAP_VERSION}"),
        ("source_shingles.parquet", "source_sizes.parquet", "pair_inter.parquet"),
        write,
    )


def load_source_overlap(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(source_shingles, source_sizes, pair_inter) from the rollup."""
    base = materialize_source_overlap(spark, sf_dir)
    return (
        read_store(spark, os.path.join(base, "source_shingles.parquet")),
        read_store(spark, os.path.join(base, "source_sizes.parquet")),
        read_store(spark, os.path.join(base, "pair_inter.parquet")),
    )
