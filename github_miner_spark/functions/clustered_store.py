"""Materialized exact-truth rollup for the clustered ANN evaluation
ladder: the brute-force cosine top-5 of the 5 probe queries over the
clustered evaluation corpus, computed once per source dir and served
to the grading side of every `clustered_*_recall_at_k` rung.

Same corpus-constant class as the ANF anchor-reach rollup, the walk
corpus, the BPE merge table and the source-overlap rollup (VERDICT r8
item 4's pattern, ordered for this family by VERDICT r12 item 6): the
exact truth exists only to GRADE the approximate indexes, it is a
pure function of (embeddings table, corpus spec, probe set, k), and
before this store every one of the six ladder graders re-derived the
identical corpus + crossJoin + rank window per run — six copies of
the single most expensive shared subtree in the family. The ORACLE
keeps re-deriving the exact truth from spec (the `_CLU_TRUTH` CTE in
queries/clustered_eval.py), so a stale or corrupted rollup
hash-mismatches in the driver's correctness gate instead of grading
itself.

Content-addressed by the embeddings file + a spec version; landed by
the shared publish step (io/store_key.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from github_miner_spark.io.store_key import (
    PARQUET_DIR_ENTRIES,
    content_key,
    publish,
    read_store,
)

STORE_ROOT = os.environ.get(
    "SPARK_GRAFT_CLUSTERED_STORE", "/tmp/spark-graft-clustered"
)

# Bump when the corpus spec / probe set / k / tie-break semantics
# change: participates in the content address.
CLU_TRUTH_SPEC_VERSION = "clu-nc8-d64-probes01234-k5-v1"


def _store_dir(sf_dir: str) -> str:
    key = content_key(
        sf_dir,
        [("embeddings-clu-truth", "embeddings.parquet")],
        extra=(CLU_TRUTH_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def build_clu_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id): exact top-5 by (round(dot, 6) desc,
    vec_id) per probe over the clustered corpus — the identical
    derivation the graders ran inline before the rollup existed
    (queries/clustered_eval.py `_clu_truth`)."""
    from github_miner_spark.queries.clustered_eval import _clu_truth, _cnv

    return _clu_truth(_cnv(spark, sf_dir))


def materialize_clu_truth(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the truth rollup for ``sf_dir`` exists on disk; return
    its parquet path."""

    def write(stage: str) -> None:
        build_clu_truth(spark, sf_dir).write.mode("overwrite").parquet(stage)

    return publish(
        STORE_ROOT,
        os.path.join(_store_dir(sf_dir), "clu_truth.parquet"),
        PARQUET_DIR_ENTRIES,
        write,
    )


def load_clu_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id) from the materialized rollup."""
    return read_store(spark, materialize_clu_truth(spark, sf_dir))
