"""Materialized IVF-PQ composite index: coarse quantizer + residual
product quantization — the top rung of the quantization ladder and the
index shape billion-vector deployments actually run (Jegou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
2011, §IV "IVFADC"). The plain IVF store prunes WHICH vectors a query
reads; the PQ store shrinks WHAT is read per vector; IVFADC composes
the two: scan only the n_probe nearest inverted lists, and inside them
read 4 small ints per vector instead of a 64-float array.

Residual encoding is what makes the composition better than either
part: vectors inside a list share their centroid, so quantizing the
RESIDUAL r = v - c spends the whole codebook resolution on the
within-list spread instead of re-encoding the list's position. The
reconstruction v ~ c + r_hat turns the inner-product score into
    dot(q, v) ~ dot(q, c) + sum_j LUT[j][code_j(v)]
— one per-(query, probed-list) scalar plus M_SUB ADC table hits, no
float vector ever read on the scan side.

Store layout (content-addressed, landed by the shared publish step in
io/store_key.py):
  centroids.parquet  (cid, cvec)            — coarse quantizer over the
                                              L2-normalized corpus,
                                              stride-sampled like IVF
  rcodebook.parquet  (j, cid, cvec)         — shared residual codebooks,
                                              KSUB entries per subspace
  codes.parquet      (vec_id, list_id, j, cid) — sorted within
                                              partitions by list_id so
                                              probes get parquet pruning

Determinism contract (the oracle re-derives everything from spec):
centroids are the vec_id % stride == 0 sample; the residual codebook
is the vec_id % 31 stride sample of residuals; assignment is
round(dot, 6)-desc/cid-asc argmax and encoding is the squared-L2
argmin, both computed as the identical sequential fold on both
engines (functions/similarity.dot == DuckDB list_sum over
generate_series), so list membership and codes are bit-reproducible.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pq_store import (
    ADC_SCALE,
    D_SUB,
    KSUB,
    M_SUB,
    SAMPLE_MOD,
    _normalized,
    _sq_l2,
    _subspaces,
)
from github_miner_spark.functions.similarity import dot
from github_miner_spark.io.store_key import content_key, publish, read_store

STORE_ROOT = os.environ.get("SPARK_GRAFT_IVFPQ_STORE", "/tmp/spark-graft-ivfpq")

# Participates in the content address — bump when the index algebra
# changes (stride rules, subspace geometry, rounding, tie-breaks).
IVFPQ_SPEC_VERSION = "ivfadc-m4k16-residual-v1"


def _store_dir(sf_dir: str) -> str:
    key = content_key(
        sf_dir,
        [("embeddings-ivfpq", "embeddings.parquet")],
        extra=(IVFPQ_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def _nearest_centroid(nrm: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, nv, list_id, cvec): each vector joined to its nearest
    coarse centroid — round(dot,6)-desc/cid-asc argmax via min_by over
    a groupBy (map-side combinable; never a window over the full
    n x n_cent scored table, assign_lists' documented scale rule)."""
    scored = nrm.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "nv",
        "cid",
        "cvec",
        F.round(dot(F.col("nv"), F.col("cvec")), 6).alias("cd"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("nv", F.col("cid").alias("list_id"), "cvec"),
                F.struct(-F.col("cd"), F.col("cid")),
            ).alias("a")
        )
        .select("vec_id", "a.nv", "a.list_id", "a.cvec")
    )


def materialize_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the IVF-PQ index for ``sf_dir`` exists on disk; return
    the store path. Build = ETL, once per corpus version: coarse
    assignment (one scan vs broadcast centroids), residuals (narrow
    map), shared residual codebooks (stride sample), residual encoding
    (one scan vs broadcast codebooks, map-side-combined argmin)."""
    from github_miner_spark.io.tables import load_table

    def write(stage: str) -> None:
        nrm = _normalized(load_table(spark, "embeddings", sf_dir))
        n = nrm.count()
        stride = math.ceil(n / max(1, math.isqrt(n)))
        cents = nrm.filter((F.col("vec_id") % stride) == 0).select(
            F.col("vec_id").alias("cid"), F.col("nv").alias("cvec")
        )
        cents.write.mode("overwrite").parquet(os.path.join(stage, "centroids.parquet"))
        cents = read_store(spark, os.path.join(stage, "centroids.parquet"))
        asg = _nearest_centroid(nrm, cents)
        res = asg.select(
            "vec_id",
            "list_id",
            F.zip_with("nv", "cvec", lambda x, c: x - c).alias("rv"),
        )
        # shared residual codebooks: the same deterministic stride
        # sample as the flat PQ store, taken over residuals
        sample = (
            res.filter((F.col("vec_id") % SAMPLE_MOD) == 0)
            .orderBy("vec_id")
            .limit(KSUB)
        )
        from pyspark.sql.window import Window

        ranked = sample.withColumn(
            "cid", F.row_number().over(Window.orderBy("vec_id")) - 1
        )
        rcb = _subspaces(ranked.select("cid", "rv"), "rv").select(
            "j", "cid", F.col("sv").alias("cvec")
        )
        rcb.write.mode("overwrite").parquet(os.path.join(stage, "rcodebook.parquet"))
        rcb = read_store(spark, os.path.join(stage, "rcodebook.parquet"))
        sub = _subspaces(res, "rv")
        codes = (
            sub.join(F.broadcast(rcb), "j")
            .select(
                "vec_id",
                "list_id",
                "j",
                "cid",
                _sq_l2(F.col("sv"), F.col("cvec")).alias("d"),
            )
            .groupBy("vec_id", "list_id", "j")
            .agg(F.min_by(F.col("cid"), F.struct("d", "cid")).alias("cid"))
            .select(
                "vec_id",
                "list_id",
                F.col("j").cast("tinyint").alias("j"),
                F.col("cid").cast("tinyint").alias("cid"),
            )
        )
        codes.sortWithinPartitions("list_id").write.mode("overwrite").parquet(
            os.path.join(stage, "codes.parquet")
        )

    return publish(
        STORE_ROOT,
        _store_dir(sf_dir),
        ("centroids.parquet", "rcodebook.parquet", "codes.parquet"),
        write,
    )


def load_ivfpq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(codes, centroids, rcodebook) from the materialized store."""
    base = materialize_ivfpq_index(spark, sf_dir)
    return (
        read_store(spark, os.path.join(base, "codes.parquet")),
        read_store(spark, os.path.join(base, "centroids.parquet")),
        read_store(spark, os.path.join(base, "rcodebook.parquet")),
    )


def ivfpq_topk_from_store(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """IVFADC approximate cosine top-k: select the n_probe nearest
    lists per query (|q| x sqrt(n) against broadcast centroids),
    broadcast the |q| x M_SUB x KSUB residual LUT, scan ONLY the
    probed slice of the integer code table, and score each candidate
    as dot(q, centroid) + sum of M_SUB table hits. Returns
    (query_id, neighbor_id, score, rank).

    100 TB shape: the scan reads n_probe/sqrt(n) of the corpus at 4
    small ints + a list_id per vector (the list_id-sorted store gives
    parquet min/max pruning); probes and LUT are broadcast; the only
    shuffle is the map-side-combined (query_id, vec_id) partial sum.
    """
    from pyspark.sql.window import Window

    from github_miner_spark.io.tables import load_table

    codes, cents, rcb = load_ivfpq_index(spark, sf_dir)
    ids = [int(i) for i in query_ids]
    q = _normalized(
        load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id").isin(ids))
    ).select(F.col("vec_id").alias("query_id"), F.col("nv").alias("qv"))
    # probe selection: rank by the 6dp-rounded dot (the repo-wide
    # pre-ranking convention), carry the RAW dot into the score
    cdot = dot(F.col("qv"), F.col("cvec"))
    qw = Window.partitionBy("query_id").orderBy(
        F.desc("cscore"), F.asc("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "cid",
            # centroid dot quantized to BIGINT at 1e9 (ADVICE r9):
            # the score sum below is then exact integer algebra on
            # both engines, same convention as the flat-PQ path
            F.round(cdot * ADC_SCALE, 0).cast("bigint").alias("cq"),
            F.round(cdot, 6).alias("cscore"),
        )
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", F.col("cid").alias("list_id"), "cq")
    )
    qsub = _subspaces(q, "qv").select("query_id", "j", F.col("sv").alias("qsv"))
    lut = qsub.join(rcb, "j").select(
        "query_id", "j", "cid",
        F.round(dot(F.col("qsv"), F.col("cvec")) * ADC_SCALE, 0)
        .cast("bigint")
        .alias("pq"),
    )
    scored = (
        codes.join(
            F.broadcast(probes.select("query_id", "list_id", "cq")), "list_id"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "j", "cid"])
        .groupBy("query_id", "vec_id")
        # every row in a (query, vec) group shares one list hence one
        # cq; min() is the order-insensitive way to pick it
        .agg((F.min("cq") + F.sum("pq")).cast("bigint").alias("score_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("score_q") / F.lit(float(ADC_SCALE)), 6).alias("score"),
            "rank",
        )
    )
