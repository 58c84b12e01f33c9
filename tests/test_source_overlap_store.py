"""Source-overlap rollup store: bit-parity with a fresh derivation for
the rollup that serves kmv_set_operation_estimates' exact-grading side
and source_overlap_matrix (VERDICT r8 item 4; the store contract is in
test_store_contract.py)."""

from __future__ import annotations


from pyspark.sql import functions as F

from github_miner_spark.functions import text_store
from github_miner_spark.io.tables import load_table

SF = "/root/testdata/sf0.001"


def _fresh(spark):
    """Re-derive the three artifacts straight from the shingle index —
    the same algebra the store builder runs."""
    from github_miner_spark.functions.text import token_hash60

    docs = load_table(spark, "documents", SF).select("doc_id", "source")
    idx = text_store.load_shingle_index(spark, SF)
    ss = (
        idx.join(docs, "doc_id")
        .select("source", "shingle")
        .distinct()
        .select(
            "source",
            "shingle",
            token_hash60(F.col("shingle").cast("string")).alias("kh"),
        )
    )
    sizes = ss.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a, b = ss.alias("a"), ss.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .agg(F.count("*").cast("bigint").alias("exact_inter"))
    )
    return ss, sizes, inter


def test_rollup_serves_bit_identical_aggregates(spark):
    served_ss, served_sizes, served_inter = text_store.load_source_overlap(
        spark, SF
    )
    fresh_ss, fresh_sizes, fresh_inter = _fresh(spark)
    assert sorted(map(tuple, served_ss.collect())) == sorted(
        map(tuple, fresh_ss.collect())
    )
    assert sorted(map(tuple, served_sizes.collect())) == sorted(
        map(tuple, fresh_sizes.collect())
    )
    assert sorted(map(tuple, served_inter.collect())) == sorted(
        map(tuple, fresh_inter.collect())
    )

