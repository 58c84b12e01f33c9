"""Materialized product-quantization (PQ) code store: per-subspace
codebooks + m-byte codes per vector, built once per source dir and
served to every ANN query — the third rung of the quantization ladder
(float IVF -> int8 -> PQ), after Jegou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011).

Layout: each L2-normalized 64-dim embedding splits into M_SUB=4
contiguous 16-dim subvectors; each subspace has a KSUB=16-entry
codebook (so a code is 4 x 4 bits — stored as small ints, 1 byte each
at rest after parquet dictionary+RLE). Codebooks are the deterministic
vec_id % 31 stride sample of the normalized corpus (reproducible in
the DuckDB oracle, like the IVF centroid stride); encoding is the
per-subspace squared-L2 argmin, computed as the identical sequential
fold on both engines so code assignment is bit-reproducible.

Query path (ADC — asymmetric distance computation): the query stays
float; a (query, subspace, code) -> partial-dot lookup table of
|q| x M_SUB x KSUB rows is broadcast, the code table is scanned once
(no float vectors read), and the score is the sum of m table hits —
at 100 TB the scan reads m small ints per corpus vector instead of a
64-float array, a 64x read reduction, and the shuffle is one
map-side-combined (query_id, vec_id) partial aggregate.

Same store discipline as ivf_store/int8_store: content-addressed by
the embeddings file, landed by the shared publish step
(io/store_key.py), assignment sorted within partitions for parquet
pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.io.store_key import content_key, publish, read_store

from github_miner_spark.functions.similarity import dot, norm

STORE_ROOT = os.environ.get("SPARK_GRAFT_PQ_STORE", "/tmp/spark-graft-pq")

M_SUB = 4  # subspaces
D_SUB = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
KSUB = 16  # codebook entries per subspace
SAMPLE_MOD = 31  # deterministic codebook sample: vec_id % 31 == 0
# ADC partial dots are quantized to BIGINT at 1e9 before the
# order-sensitive per-(query, vector) sum (ADVICE r9): a ulp-order
# difference between Spark's partial aggregation and DuckDB's could
# in principle flip a 6dp rounding boundary; integer sums cannot.
# Same convention as the BM25 / unigram-LM / WordPiece scores.
ADC_SCALE = 1_000_000_000


def _store_dir(sf_dir: str) -> str:
    key = content_key(sf_dir, [("embeddings-pq", "embeddings.parquet")])
    return os.path.join(STORE_ROOT, key)


def _normalized(emb: DataFrame) -> DataFrame:
    """(vec_id, nv): embeddings cast to double and L2-normalized —
    after normalization the ADC dot-product sum IS the cosine."""
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n = norm(ev)
    return emb.select("vec_id", F.transform(ev, lambda x: x / n).alias("nv"))


def _subspaces(df: DataFrame, vec_col: str) -> DataFrame:
    """Explode a 64-dim vector column into (j, sv) subvector rows,
    j = 0..M_SUB-1 — one narrow explode, no UDF."""
    slices = F.array(
        *[F.slice(F.col(vec_col), j * D_SUB + 1, D_SUB) for j in range(M_SUB)]
    )
    return df.select(
        *[c for c in df.columns if c != vec_col],
        F.posexplode(slices).alias("j", "sv"),
    )


def _sq_l2(a, b):
    """Squared L2 distance as the sequential fold both engines share
    (zip_with then left-fold aggregate == DuckDB list_sum over
    generate_series), so per-subspace argmin ties break identically."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def materialize_pq_codes(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the PQ store for ``sf_dir`` exists on disk; return its
    path. Writes codebook.parquet (j, cid, cvec) and codes.parquet
    (vec_id, j, cid)."""
    from pyspark.sql.window import Window

    from github_miner_spark.io.tables import load_table

    def write(stage: str) -> None:
        nrm = _normalized(load_table(spark, "embeddings", sf_dir))
        # codebook: first KSUB sampled vectors by vec_id, split into
        # subspaces; cid is the rank within the sample (0-based) so the
        # oracle's row_number() derivation matches exactly
        sample = (
            nrm.filter((F.col("vec_id") % SAMPLE_MOD) == 0)
            .orderBy("vec_id")
            .limit(KSUB)
        )
        cw = Window.orderBy("vec_id")
        ranked = sample.withColumn("cid", F.row_number().over(cw) - 1)
        codebook = _subspaces(ranked.select("cid", "nv"), "nv").select(
            "j", "cid", F.col("sv").alias("cvec")
        )
        codebook.write.mode("overwrite").parquet(os.path.join(stage, "codebook.parquet"))
        cb = read_store(spark, os.path.join(stage, "codebook.parquet"))
        # encoding: per (vec_id, j) squared-L2 argmin over the KSUB
        # entries — corpus_rows x M_SUB x KSUB narrow rows, map-side
        # (codebook broadcast). The argmin is min_by over a groupBy
        # (map-side partial combine shuffles n x M_SUB pre-combined
        # rows), NOT a row_number window (which would exchange+sort the
        # full n x M_SUB x KSUB scored table — assign_lists' documented
        # scale-killer). min struct(d, cid) = lowest d, ties to lowest
        # cid, identical to the oracle's ORDER BY d, cid.
        sub = _subspaces(nrm, "nv")
        codes = (
            sub.join(F.broadcast(cb), "j")
            .select("vec_id", "j", "cid", _sq_l2(F.col("sv"), F.col("cvec")).alias("d"))
            .groupBy("vec_id", "j")
            .agg(F.min_by(F.col("cid"), F.struct("d", "cid")).alias("cid"))
            # tinyint at rest: j and cid both fit a byte (m=4, ksub=16)
            # — parquet dictionary+RLE then shrinks the real footprint
            .select(
                "vec_id",
                F.col("j").cast("tinyint").alias("j"),
                F.col("cid").cast("tinyint").alias("cid"),
            )
        )
        codes.sortWithinPartitions("vec_id").write.mode("overwrite").parquet(
            os.path.join(stage, "codes.parquet")
        )

    return publish(
        STORE_ROOT, _store_dir(sf_dir), ("codebook.parquet", "codes.parquet"), write
    )


def load_pq_codes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook) from the materialized store."""
    base = materialize_pq_codes(spark, sf_dir)
    return (
        read_store(spark, os.path.join(base, "codes.parquet")),
        read_store(spark, os.path.join(base, "codebook.parquet")),
    )


def pq_topk_from_store(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """PQ-ADC approximate cosine top-k: broadcast the per-query lookup
    table (|q| x M_SUB x KSUB partial dots of the FLOAT query against
    each codebook entry), scan only the code table, sum the m hits per
    (query, vector). Returns (query_id, neighbor_id, score, rank)."""
    from pyspark.sql.window import Window

    from github_miner_spark.io.tables import load_table

    codes, codebook = load_pq_codes(spark, sf_dir)
    ids = [int(i) for i in query_ids]
    q = _normalized(
        load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id").isin(ids))
    ).select(F.col("vec_id").alias("query_id"), "nv")
    qsub = _subspaces(q, "nv").select("query_id", "j", F.col("sv").alias("qsv"))
    pdot = dot(F.col("qsv"), F.col("cvec"))
    lut = qsub.join(codebook, "j").select(
        "query_id", "j", "cid",
        F.round(pdot * ADC_SCALE, 0).cast("bigint").alias("pq"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["j", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pq").cast("bigint").alias("score_q"))
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


def pq_rerank_topk_from_store(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 100,
) -> DataFrame:
    """Two-stage ANN: PQ-ADC shortlist + exact cosine re-rank — the
    production pattern that closes the quantization quality gap
    pq_recall_at_k measures (recall@5 0.08 -> 0.76 at shortlist=100 on
    the bench corpus; an OPQ-style rotation was prototyped for the
    same goal and REJECTED with measurements: full PCA + eigenvalue
    allocation made recall WORSE here, 0.08 -> 0.04, because the
    synthetic embeddings are already axis-aligned — see PERF.md).

    Stage 1 is the integer-code ADC scan (reads m small ints per
    corpus vector); stage 2 broadcasts the |q| x shortlist id set onto
    ONE column-pruned pass over the float column — only the |q| x
    shortlist surviving rows carry floats into normalization-per-use
    and the ranking, and nothing float-sized ever shuffles. (The scan
    itself still reads the column once per batch; a 100 TB deployment
    would push the bounded shortlist down as an IN-filter / point
    lookups against a vec_id-sorted store to skip even that — the
    shuffle-free join shape here is the same either way.) Exact
    scores use the same sequential-fold dot as brute_force_topk, so
    ties and rounding are bit-identical to the exact oracle."""
    from pyspark.sql.window import Window

    from github_miner_spark.io.tables import load_table

    codes, codebook = load_pq_codes(spark, sf_dir)
    ids = [int(i) for i in query_ids]
    raw = load_table(spark, "embeddings", sf_dir)
    q = _normalized(raw.filter(F.col("vec_id").isin(ids))).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv")
    )
    qsub = _subspaces(q, "qv").select("query_id", "j", F.col("sv").alias("qsv"))
    pdot = dot(F.col("qsv"), F.col("cvec"))
    lut = qsub.join(codebook, "j").select(
        "query_id", "j", "cid",
        F.round(pdot * ADC_SCALE, 0).cast("bigint").alias("pq"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["j", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pq").cast("bigint").alias("score_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("vec_id"))
    short = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "vec_id")
    )
    # normalization DEFERRED below the shortlist join (r13, guide
    # §2.3 compute-late): joining the broadcast |q| x shortlist id set
    # against the RAW embeddings first means the cast + norm + divide
    # run on the ~|q| x shortlist surviving rows only, not the whole
    # corpus (the old Project-below-Join shape normalized every row
    # before the join filtered them — ~1.0 s of the query's 2.1 s noop
    # at bench SF, and a full float pass at 100 TB). The per-row
    # expressions are byte-identical to _normalized, so scores, ties
    # and rounding are unchanged.
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nvx = F.transform(ev, lambda x: x / norm(ev))
    exact = (
        F.broadcast(short)
        .join(raw.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("qv"), nvx), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
