"""Materialized int8 code store: the quantized vector payload at rest.

Same architecture (and the same 100 TB reasoning) as ivf_store.py:
quantizing the corpus is ETL — one scan over the float embeddings —
and no query should pay it again. The store persists
``(vec_id, codes array<tinyint>)``: 1 byte per element in memory and
on the wire, so a 1B x 64-dim corpus carries 64 GB of code payload
instead of 256 GB of float32 — the query path scans the codes file and
never touches the float embeddings. Content-addressed by the
embeddings file (path + size + mtime), landed by the shared publish
step (io/store_key.py), sorted by vec_id so probe-id lookups get
parquet min/max pruning.

Quantization is ``similarity.int8_codes`` (symmetric scalar, per-vector
scale cancels out of cosine) — deterministic, so the DuckDB oracle can
recompute identical codes from the raw embeddings table without reading
the store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.io.store_key import content_key, publish, read_store

STORE_ROOT = os.environ.get("SPARK_GRAFT_INT8_STORE", "/tmp/spark-graft-int8")


def _store_dir(sf_dir: str) -> str:
    key = content_key(sf_dir, [("embeddings", "embeddings.parquet")])
    return os.path.join(STORE_ROOT, key)


def materialize_int8_codes(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the int8 code table for ``sf_dir`` exists on disk; return
    the store path."""
    from github_miner_spark.functions.similarity import int8_codes
    from github_miner_spark.io.tables import load_table

    def write(stage: str) -> None:
        emb = load_table(spark, "embeddings", sf_dir).select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
        )
        emb.select(
            "vec_id", int8_codes(F.col("embedding")).alias("codes")
        ).sortWithinPartitions("vec_id").write.mode("overwrite").parquet(
            os.path.join(stage, "codes.parquet")
        )

    return publish(STORE_ROOT, _store_dir(sf_dir), ("codes.parquet",), write)


def load_int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes array<tinyint>) from the materialized store."""
    base = materialize_int8_codes(spark, sf_dir)
    return read_store(spark, os.path.join(base, "codes.parquet"))


def int8_topk_from_store(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Quantized brute-force cosine top-k served from the materialized
    code table: the scan reads 1-byte tinyint codes (4x less vector
    payload than float32), the float embeddings are never touched, and
    scoring is pure integer MACs via
    ``similarity.int8_topk_over_codes``. Returns
    (query_id, neighbor_id, qscore, rank)."""
    from github_miner_spark.functions.similarity import int8_topk_over_codes

    coded = load_int8_codes(spark, sf_dir)
    return int8_topk_over_codes(coded, query_ids, k=k)
