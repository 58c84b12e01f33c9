"""Clustered ANN evaluation corpus + the recall ladder measured on it.

VERDICT r9 item 2: the driver's synthetic embeddings are isotropic
noise (uniform per-dim variance, ~0 cross-correlation), so every
quantized index bottoms out at the codebook-budget floor (flat PQ
recall@5 0.08, IVFADC at parity) and the r8 OPQ prototype measured
WORSE (0.08 -> 0.04) — the fixture, not the indexes, set those
numbers. This module derives a deterministic CLUSTERED evaluation
corpus from the same driver embeddings — an md5-seeded mixture
assignment plus a per-cluster offset, pure DataFrame arithmetic that
the oracle re-derives from spec — and registers recall graders for
every ladder rung against it, plus the OPQ re-adjudication the r9
rejection deferred (permutation-form eigenvalue allocation: dims
ranked by integer-quantized variance, dealt round-robin across the
4 subspaces — the SQL-expressible core of Ge et al. 2014 "Optimized
Product Quantization", which full-rotation OPQ refines).

Corpus spec (identical on both engines, all constants inline):
  cluster(v)  = md5_prefix_hash('clu' || vec_id, 8) % 8
  offset(c,i) = ((md5_prefix_hash('off' || c || '_' || i, 8) % 2001)
                 - 1000) / 1000.0          (i = 1..64, in [-1, 1])
  sv          = ev + 0.5 * offset(cluster) (0.5 is binary-exact)
  nv          = sv / ||sv||                (sequential-fold norm)

Measured at sf0.01 (numpy prototype, reproduced by these queries):
the ladder separates — brute 1.00 / ivf 1.00 / rerank 0.96 /
lsh-bucket 0.28 / ivfpq 0.20 / opq-perm 0.16 / pq 0.08 — and the
permutation allocation HELPS (2x flat PQ) on clustered data, the
reverse of the isotropic-corpus rejection. See PERF.md round 10.

Reference parity: the reference (rossanthony/github-miner) has no ANN
surface; this is part of the engine's LLM-data-pipeline upgrade
(similarity search evaluation at 100 TB). 100 TB notes per rung are
in each query's description.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from github_miner_spark.functions.pin import pin
from github_miner_spark.functions.pq_store import ADC_SCALE
from github_miner_spark.functions.similarity import dot, norm
from github_miner_spark.functions.text import md5_prefix_hash
from github_miner_spark.io.tables import load_table
from github_miner_spark.queries.similarity_queries import _plane_signs
from github_miner_spark.registry import register

CLU_NC = 8  # mixture components
CLU_DIMS = 64
CLU_PROBES = (0, 1, 2, 3, 4)
CLU_K = 5
CLU_N_PROBE = 3  # IVF lists probed
CLU_SHORTLIST = 100  # rerank shortlist
# per-component quantization for the OPQ variance ranking. The
# per-element q fits BIGINT trivially (|nv[i]| <= 1 post-normalization
# so |q| <= 1e5), but the RANKING statistic nn*s2 - s1^2 is bounded
# only by n^2 * 1e10 in the worst case (a dimension with components
# near 1) — BIGINT overflows at n ~ 30k vectors (ADVICE r10), so the
# combine step runs in exact 128-bit algebra on BOTH engines (DuckDB
# HUGEINT, Spark DECIMAL(38,0)): headroom to n ~ 1e14 vectors, same
# integers, same order.
VARQ_SCALE = 100_000
# ADC_SCALE is IMPORTED from functions/pq_store.py — one convention,
# one definition; the ladder must move with the store-backed family

# ---------------------------------------------------------------------------
# shared DuckDB chain: the clustered corpus, probe queries, brute truth
# ---------------------------------------------------------------------------

_CLU_PREFIX = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
               FROM embeddings),
    offs AS MATERIALIZED (
      SELECT c, list_transform(generate_series(1, {CLU_DIMS}),
               i -> ((('0x' || substr(md5('off' || c || '_' || i), 1, 8))::BIGINT
                      % 2001) - 1000) / 1000.0) AS ov
      FROM (SELECT unnest(range({CLU_NC})) AS c)
    ),
    shifted AS (
      SELECT vec_id, c,
             list_transform(generate_series(1, {CLU_DIMS}),
                            i -> ev[i] + 0.5 * ov[i]) AS sv
      FROM (SELECT vec_id, ev,
                   ('0x' || substr(md5('clu' || vec_id), 1, 8))::BIGINT
                     % {CLU_NC} AS c
            FROM e) a
      JOIN offs USING (c)
    ),
    cnrm AS MATERIALIZED (
      SELECT vec_id, c,
             list_transform(sv, x -> x / sqrt(list_sum(
                 list_transform(sv, y -> y * y)))) AS nv
      FROM shifted
    )"""

_CLU_IN = ", ".join(str(i) for i in CLU_PROBES)

_CLU_TRUTH = f""",
    bq AS MATERIALIZED (
      SELECT vec_id AS query_id, nv AS qv FROM cnrm
      WHERE vec_id IN ({_CLU_IN})
    ),
    btruth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(
                     generate_series(1, {CLU_DIMS}),
                     i -> q.qv[i] * n.nv[i])), 6) DESC, n.vec_id) AS rank
        FROM cnrm n CROSS JOIN bq q
        WHERE n.vec_id <> q.query_id
      ) WHERE rank <= {CLU_K}
    )"""

# grading suffix: expects an ``approx`` CTE with (query_id, neighbor_id)
_CLU_GRADE = f"""
    SELECT b.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_found,
           round(count(a.neighbor_id) / {CLU_K}.0, 6) AS recall_at_5
    FROM btruth b
    LEFT JOIN approx a
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY b.query_id ORDER BY b.query_id
    """


def _clu_pq_scored_sql(src: str) -> str:
    """CTE block: quantized-ADC PQ scores over ``src`` (vec_id, nv) —
    codebook from the vec_id % 31 stride sample, squared-L2 argmin
    codes, BIGINT-quantized LUT sums. Emits ``cscored``
    (query_id, neighbor_id, score_q). Queries are the probe rows OF
    ``src`` so the OPQ variant scores in the permuted space."""
    return f""",
    cb_sample AS (SELECT vec_id, nv FROM {src} WHERE vec_id % 31 = 0
                  ORDER BY vec_id LIMIT 16),
    cb_ranked AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, nv
                  FROM cb_sample),
    subspaces AS (SELECT unnest(range(4)) AS j),
    codebook AS MATERIALIZED (
      SELECT s.j, c.cid, list_slice(c.nv, s.j * 16 + 1, (s.j + 1) * 16) AS cvec
      FROM cb_ranked c CROSS JOIN subspaces s
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, j, cid FROM (
        SELECT sub.vec_id, sub.j, c.cid,
               row_number() OVER (PARTITION BY sub.vec_id, sub.j
                 ORDER BY list_sum(list_transform(generate_series(1, 16),
                     i -> (sub.sv[i] - c.cvec[i]) * (sub.sv[i] - c.cvec[i])))
                   ASC, c.cid ASC) AS rn
        FROM (SELECT n.vec_id, s2.j,
                     list_slice(n.nv, s2.j * 16 + 1, (s2.j + 1) * 16) AS sv
              FROM {src} n CROSS JOIN subspaces s2) sub
        JOIN codebook c ON c.j = sub.j
      ) WHERE rn = 1
    ),
    pq_q AS (SELECT vec_id AS query_id, nv AS qv FROM {src}
             WHERE vec_id IN ({_CLU_IN})),
    lut AS (
      SELECT q.query_id, c.j, c.cid,
             CAST(round(list_sum(list_transform(generate_series(1, 16),
                  i -> q.qv[c.j * 16 + i] * c.cvec[i])) * {ADC_SCALE}, 0)
               AS BIGINT) AS pq
      FROM pq_q q CROSS JOIN codebook c
    ),
    cscored AS MATERIALIZED (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             CAST(sum(l.pq) AS BIGINT) AS score_q
      FROM codes cd
      JOIN lut l ON l.j = cd.j AND l.cid = cd.cid
      WHERE cd.vec_id <> l.query_id
      GROUP BY l.query_id, cd.vec_id
    )"""


_CLU_PQ_TOP = f""",
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score_q DESC, neighbor_id ASC) AS rank
        FROM cscored
      ) WHERE rank <= {CLU_K}
    )"""

# OPQ permutation: per-dim variance from 1e5-quantized components
# (n * sum(q^2) - sum(q)^2 — exact 128-bit HUGEINT combine; the
# BIGINT form overflows at n ~ 30k worst-case), dims ranked desc,
# dealt round-robin across the 4 subspaces (eigenvalue-allocation form)
_CLU_PNRM = f""",
    dimstats AS (
      SELECT i,
             CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2
      FROM (
        SELECT d.i, CAST(round(nv[d.i] * {VARQ_SCALE}, 0) AS BIGINT) AS q
        FROM cnrm, (SELECT unnest(generate_series(1, {CLU_DIMS})) AS i) d
      ) GROUP BY i
    ),
    permpos AS (
      SELECT i, ((r - 1) % 4) * 16 + ((r - 1) // 4) + 1 AS p
      FROM (SELECT i, row_number() OVER (
                ORDER BY CAST(nn AS HUGEINT) * s2
                         - CAST(s1 AS HUGEINT) * s1 DESC, i ASC) AS r
            FROM dimstats)
    ),
    perm AS MATERIALIZED (SELECT list(i ORDER BY p) AS pi FROM permpos),
    pnrm AS MATERIALIZED (
      SELECT n.vec_id,
             list_transform(generate_series(1, {CLU_DIMS}),
                            p -> n.nv[pi[p]]) AS nv
      FROM cnrm n CROSS JOIN perm
    )"""

# flat IVF: stride-sampled centroids over the clustered corpus,
# 3-probe, exact dots inside the probed lists
_CLU_IVF = f""",
    par AS (SELECT CAST(ceil(count(*) / floor(sqrt(count(*)))) AS BIGINT)
              AS stride FROM cnrm),
    cents AS MATERIALIZED (
      SELECT vec_id AS cid, nv AS cvec FROM cnrm
      WHERE vec_id % (SELECT stride FROM par) = 0
    ),
    iasg AS MATERIALIZED (
      SELECT vec_id, nv, cid AS list_id, cvec FROM (
        SELECT n.vec_id, n.nv, c.cid, c.cvec,
               row_number() OVER (PARTITION BY n.vec_id
                 ORDER BY round(list_sum(list_transform(
                     generate_series(1, {CLU_DIMS}),
                     i -> n.nv[i] * c.cvec[i])), 6) DESC, c.cid) AS rn
        FROM cnrm n CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    iprobes AS MATERIALIZED (
      SELECT query_id, qv, cid AS list_id, cdot FROM (
        SELECT q.query_id, q.qv, c.cid,
               list_sum(list_transform(generate_series(1, {CLU_DIMS}),
                        i -> q.qv[i] * c.cvec[i])) AS cdot,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(
                     generate_series(1, {CLU_DIMS}),
                     i -> q.qv[i] * c.cvec[i])), 6) DESC, c.cid) AS rn
        FROM bq q CROSS JOIN cents c
      ) WHERE rn <= {CLU_N_PROBE}
    )"""

_CLU_IVF_TOP = f""",
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_sum(list_transform(
                     generate_series(1, {CLU_DIMS}),
                     i -> p.qv[i] * n.nv[i])), 6) DESC, n.vec_id) AS rank
        FROM iasg n JOIN iprobes p ON n.list_id = p.list_id
        WHERE n.vec_id <> p.query_id
      ) WHERE rank <= {CLU_K}
    )"""

# IVFADC on the clustered corpus: residual codebooks over v - c,
# quantized centroid-dot + LUT sums (functions/ivfpq_store.py shape)
_CLU_IVFPQ = f""",
    res AS (
      SELECT vec_id, list_id,
             list_transform(generate_series(1, {CLU_DIMS}),
                            i -> nv[i] - cvec[i]) AS rv
      FROM iasg
    ),
    rcb_sample AS (SELECT vec_id, rv FROM res WHERE vec_id % 31 = 0
                   ORDER BY vec_id LIMIT 16),
    rcb_ranked AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, rv
                   FROM rcb_sample),
    subspaces AS (SELECT unnest(range(4)) AS j),
    rcodebook AS MATERIALIZED (
      SELECT s.j, c.cid, list_slice(c.rv, s.j * 16 + 1, (s.j + 1) * 16) AS cvec
      FROM rcb_ranked c CROSS JOIN subspaces s
    ),
    rcodes AS MATERIALIZED (
      SELECT vec_id, list_id, j, cid FROM (
        SELECT sub.vec_id, sub.list_id, sub.j, c.cid,
               row_number() OVER (PARTITION BY sub.vec_id, sub.j
                 ORDER BY list_sum(list_transform(generate_series(1, 16),
                     i -> (sub.sv[i] - c.cvec[i]) * (sub.sv[i] - c.cvec[i])))
                   ASC, c.cid ASC) AS rn
        FROM (SELECT r.vec_id, r.list_id, s2.j,
                     list_slice(r.rv, s2.j * 16 + 1, (s2.j + 1) * 16) AS sv
              FROM res r CROSS JOIN subspaces s2) sub
        JOIN rcodebook c ON c.j = sub.j
      ) WHERE rn = 1
    ),
    qprobes AS (
      SELECT query_id, list_id,
             CAST(round(cdot * {ADC_SCALE}, 0) AS BIGINT) AS cq
      FROM iprobes
    ),
    rlut AS (
      SELECT q.query_id, c.j, c.cid,
             CAST(round(list_sum(list_transform(generate_series(1, 16),
                  i -> q.qv[c.j * 16 + i] * c.cvec[i])) * {ADC_SCALE}, 0)
               AS BIGINT) AS pq
      FROM bq q CROSS JOIN rcodebook c
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score_q DESC, neighbor_id ASC) AS rank
        FROM (
          SELECT p.query_id, cd.vec_id AS neighbor_id,
                 CAST(min(p.cq) + sum(l.pq) AS BIGINT) AS score_q
          FROM rcodes cd
          JOIN qprobes p ON p.list_id = cd.list_id
          JOIN rlut l ON l.query_id = p.query_id AND l.j = cd.j
                     AND l.cid = cd.cid
          WHERE cd.vec_id <> p.query_id
          GROUP BY p.query_id, cd.vec_id
        )
      ) WHERE rank <= {CLU_K}
    )"""


def _clu_lsh_sql() -> str:
    """Bucket-only single-table 4-plane LSH chain on the clustered
    corpus (the cheap coarse rung: exact-bucket candidates only, no
    multiprobe): same md5-seeded hyperplanes as embedding_lsh_topk."""
    bits = []
    for p in range(4):
        signs = "[" + ", ".join(
            f"{s}.0" for s in _plane_signs(p, CLU_DIMS)
        ) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {CLU_DIMS}), "
            f"i -> nv[i] * ({signs})[i])) > 0 THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(bits)
    return f""",
    lb AS MATERIALIZED (SELECT vec_id, nv, {bucket} AS b FROM cnrm),
    lq AS (SELECT vec_id AS query_id, nv AS qv, b AS qb FROM lb
           WHERE vec_id IN ({_CLU_IN})),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(
                     generate_series(1, {CLU_DIMS}),
                     i -> q.qv[i] * n.nv[i])), 6) DESC, n.vec_id) AS rank
        FROM lb n JOIN lq q ON n.b = q.qb AND n.vec_id <> q.query_id
      ) WHERE rank <= {CLU_K}
    )"""


_CLU_RERANK = f""",
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score_q DESC, neighbor_id ASC) AS r
        FROM cscored
      ) WHERE r <= {CLU_SHORTLIST}
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (PARTITION BY s.query_id
                 ORDER BY round(list_sum(list_transform(
                     generate_series(1, {CLU_DIMS}),
                     i -> q.qv[i] * n.nv[i])), 6) DESC, s.neighbor_id) AS rank
        FROM short s
        JOIN bq q ON q.query_id = s.query_id
        JOIN cnrm n ON n.vec_id = s.neighbor_id
      ) WHERE rank <= {CLU_K}
    )"""


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _cnv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c, nv): the clustered corpus, derived from spec —
    cluster assignment and per-cluster offsets are both in-engine md5
    arithmetic (no literals to drift), the shift is one zip_with, the
    normalization the shared sequential fold. Deliberately NOT
    checkpointed: the derivation is one cheap scan-shaped pass, and a
    per-query eager materialization measured as a net LOSS (~+0.2s
    per grader) against the recompute it saves."""
    emb = load_table(spark, "embeddings", sf_dir)
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    c = (
        md5_prefix_hash(F.concat(F.lit("clu"), F.col("vec_id").cast("string")), 8)
        % CLU_NC
    )
    base = emb.select("vec_id", ev.alias("ev"), c.alias("c"))
    clusters = spark.range(CLU_NC).select(F.col("id").cast("bigint").alias("c"))
    ov = F.transform(
        F.sequence(F.lit(1), F.lit(CLU_DIMS)),
        lambda i: (
            md5_prefix_hash(
                F.concat(
                    F.lit("off"),
                    F.col("c").cast("string"),
                    F.lit("_"),
                    i.cast("string"),
                ),
                8,
            )
            % 2001
            - 1000
        )
        / F.lit(1000.0),
    )
    offs = clusters.select("c", ov.alias("ov"))
    shifted = base.join(F.broadcast(offs), "c").select(
        "vec_id",
        "c",
        F.zip_with("ev", "ov", lambda x, o: x + F.lit(0.5) * o).alias("sv"),
    )
    n = norm(F.col("sv"))
    return shifted.select(
        "vec_id", "c", F.transform(F.col("sv"), lambda x: x / n).alias("nv")
    )


def _clu_probes(cnv: DataFrame) -> DataFrame:
    return cnv.filter(F.col("vec_id").isin(list(CLU_PROBES))).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv")
    )


def _clu_truth(cnv: DataFrame) -> DataFrame:
    """Exact top-5 on the clustered corpus: broadcast probes against
    one corpus scan, rank by (round(dot, 6) desc, vec_id)."""
    q = _clu_probes(cnv)
    scored = (
        cnv.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("qv"), F.col("nv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CLU_K)
        .select("query_id", "neighbor_id")
    )


def _clu_truth_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id): the exact truth leg, served from the
    materialized rollup (functions/clustered_store.py — VERDICT r12
    item 6). Before the store, every ladder grader re-derived the
    identical corpus + crossJoin + rank window per run (six copies of
    the family's most expensive shared subtree, ~1.2 s noop each at
    bench SF). The rollup is a pure function of (embeddings, corpus
    spec, probe set, k); the ORACLE keeps re-deriving the truth from
    spec (`_CLU_TRUTH`), so a stale store hash-mismatches in the
    driver gate instead of grading itself."""
    from github_miner_spark.functions.clustered_store import load_clu_truth

    return load_clu_truth(spark, sf_dir)


def _clu_grade(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """recall@5 per probe query — the probe-set-sized grading join
    every in-engine recall grader uses."""
    a = approx.select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    return (
        truth.join(
            F.broadcast(a),
            (truth.query_id == a.aq) & (truth.neighbor_id == a.an),
            "left_outer",
        )
        .groupBy("query_id")
        .agg(
            F.count("an").cast("bigint").alias("n_found"),
            F.round(F.count("an") / F.lit(float(CLU_K)), 6).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def _subvec(vec: Column, j: Column) -> Column:
    """16-dim subspace slice j (0-based) of a 64-dim vector column."""
    return F.slice(vec, j * 16 + 1, 16)


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _clu_pq_scored(nv_df: DataFrame) -> DataFrame:
    """Quantized-ADC PQ scores (query_id, vec_id, score_q) built
    in-query over ``nv_df`` (vec_id, nv) — the store-free twin of
    functions/pq_store.py, so the OPQ variant can score a permuted
    space without materializing a second store."""
    cb = (
        nv_df.filter((F.col("vec_id") % 31) == 0)
        .orderBy("vec_id")
        .limit(16)
        .select(
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("cid"),
            "nv",
        )
    )
    jdf = F.posexplode(
        F.array(*[_subvec(F.col("nv"), F.lit(j)) for j in range(4)])
    )
    cb_sub = cb.select("cid", jdf.alias("j", "cvec"))
    corpus_sub = nv_df.select("vec_id", jdf.alias("j", "sv"))
    code_w = Window.partitionBy("vec_id", "j").orderBy(
        F.asc("d"), F.asc("cid")
    )
    codes = (
        corpus_sub.join(F.broadcast(cb_sub), "j")
        .select(
            "vec_id", "j", "cid", _sq_l2(F.col("sv"), F.col("cvec")).alias("d")
        )
        .withColumn("rn", F.row_number().over(code_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "j", "cid")
    )
    q = nv_df.filter(F.col("vec_id").isin(list(CLU_PROBES))).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv")
    )
    q_sub = q.select("query_id", F.posexplode(
        F.array(*[_subvec(F.col("qv"), F.lit(j)) for j in range(4)])
    ).alias("j", "qsv"))
    lut = q_sub.join(F.broadcast(cb_sub), "j").select(
        "query_id",
        "j",
        "cid",
        F.round(dot(F.col("qsv"), F.col("cvec")) * ADC_SCALE, 0)
        .cast("bigint")
        .alias("pq"),
    )
    return (
        codes.join(F.broadcast(lut), ["j", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pq").cast("bigint").alias("score_q"))
    )


def _top5_by_scoreq(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CLU_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


def _clu_permuted(cnv: DataFrame) -> DataFrame:
    """(vec_id, nv) with dims permuted by the variance-balanced
    eigenvalue allocation: per-dim variance from 1e5-quantized
    components (exact 128-bit combine), dims ranked desc, dealt
    round-robin across subspaces. The 64-element permutation is one
    broadcast row — no collect, no UDF."""
    comp = cnv.select(
        "vec_id", F.posexplode("nv").alias("p0", "x")
    ).select(
        (F.col("p0") + 1).alias("i"),
        F.round(F.col("x") * VARQ_SCALE, 0).cast("bigint").alias("q"),
    )
    stats = comp.groupBy("i").agg(
        F.count("*").cast("bigint").alias("nn"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
    )
    # exact 128-bit combine (DECIMAL(38,0) here, HUGEINT in the
    # oracle): nn*s2 and s1^2 are bounded by n^2 * 1e10 worst-case,
    # past BIGINT at n ~ 30k vectors (ADVICE r10)
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    varq = d("nn") * d("s2") - d("s1") * d("s1")
    ranked = stats.select(
        "i",
        (
            F.row_number().over(Window.orderBy(F.desc(varq.alias("v")), F.asc("i")))
        ).alias("r"),
    )
    pos = ranked.select(
        "i",
        (((F.col("r") - 1) % 4) * 16 + F.floor((F.col("r") - 1) / 4) + 1)
        .cast("int")
        .alias("p"),
    )
    # NOT pinned (r13 measured rejection): pinning this 1-row frame
    # looked like the obvious fix for the three consumers of the
    # permuted corpus each re-running the variance pass, but priced
    # end-to-end it moved the bench-timed grader 0.81 s -> 2.64 s
    # under count() (the r12 §13 protocol trap: count() prunes the
    # unpinned approx side wholesale) for only a 4.31 -> 4.16 s noop
    # gain — Exchange reuse already dedupes most of the stats subtree.
    perm = pos.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "i"))), lambda s: s["i"]
        ).alias("pi")
    )
    return cnv.crossJoin(F.broadcast(perm)).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(CLU_DIMS)),
            lambda p: F.get(F.col("nv"), F.element_at(F.col("pi"), p) - 1),
        ).alias("nv"),
    )


def _clu_ivf_parts(
    spark: SparkSession, cnv: DataFrame, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(assignment, probes): stride-sampled centroids over the
    clustered corpus, rounded-dot argmax assignment, 3-probe list
    selection per probe query (carrying the raw centroid dot for the
    IVFADC score). The centroid count is the SF-bounded sqrt(n)
    scalar every IVF store derives the same way. n comes straight
    from the embeddings parquet footers (driver-side metadata, ~1 ms
    — guide §5: no Spark job for loop/sizing scalars); the clustered
    corpus is row-for-row the embeddings table (the offset join key
    c = md5 % 8 always hits the 8-row dim), so the counts are equal
    by construction."""
    import math
    import os as _os

    from github_miner_spark.queries.text_queries import _parquet_num_rows

    n = _parquet_num_rows(_os.path.join(sf_dir, "embeddings.parquet"))

    stride = int(math.ceil(n / math.floor(math.sqrt(n))))
    cents = cnv.filter((F.col("vec_id") % stride) == 0).select(
        F.col("vec_id").alias("cid"), F.col("nv").alias("cvec")
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("cscore"), F.asc("cid"))
    asg = (
        cnv.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "nv",
            "cid",
            "cvec",
            F.round(dot(F.col("nv"), F.col("cvec")), 6).alias("cscore"),
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nv", F.col("cid").alias("list_id"), "cvec")
    )
    q = _clu_probes(cnv)
    cdot = dot(F.col("qv"), F.col("cvec"))
    pw = Window.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "cid",
            cdot.alias("cdot"),
            F.round(cdot, 6).alias("cscore"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= CLU_N_PROBE)
        .select("query_id", "qv", F.col("cid").alias("list_id"), "cdot")
    )
    return asg, probes


@register(
    "clustered_corpus_profile",
    oracle=_CLU_PREFIX
    + """
    SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(round(nv[1] * 1000000000, 0) AS BIGINT)) AS BIGINT)
             AS q1_sum
    FROM cnrm GROUP BY c ORDER BY cluster
    """,
    description="The clustered ANN evaluation corpus itself, profiled "
    "per mixture component: md5-seeded cluster assignment + "
    "md5-derived per-cluster offset + renormalization, verified end "
    "to end by the per-cluster count and the quantized sum of the "
    "first normalized component (any drift in assignment, offsets, "
    "shift, or normalization flips the checksum). The corpus is a "
    "pure DataFrame transform of the driver's embeddings — no stored "
    "artifact, the oracle re-derives it from spec. 100 TB shape: one "
    "scan, an 8-row broadcast offset join, a zip_with and a fold — "
    "scan-shaped with no shuffle except the 8-group aggregate.",
    tags=("similarity", "ann", "evaluation", "corpus"),
)
def clustered_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    return (
        cnv.groupBy(F.col("c").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(
                F.round(F.element_at("nv", 1) * ADC_SCALE, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("q1_sum"),
        )
        .orderBy("cluster")
    )


@register(
    "clustered_lsh_recall_at_k",
    oracle=_CLU_PREFIX + _CLU_TRUTH + _clu_lsh_sql() + _CLU_GRADE,
    description="recall@5 of bucket-only 4-plane LSH on the CLUSTERED "
    "evaluation corpus (no multiprobe — the cheap coarse rung, exact "
    "bucket collision only; the shipped embedding_lsh_topk's "
    "hamming-2 multiprobe covers most of a 16-bucket space at bench "
    "corpus sizes, which grades the fixture, not the index). "
    "Measured 0.28 at sf0.01 with ~28/500 candidates per query: "
    "hyperplane buckets align with the mixture components, so "
    "bucket-only LSH recovers in-cluster neighbors at 6% corpus "
    "cost. Same grading join as ivf_recall_at_k.",
    tags=("similarity", "ann", "lsh", "evaluation", "clustered"),
)
def clustered_lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    # bucket from PRE-COMPUTED sign literals (_plane_signs — the same
    # md5-derived ±1s functions/similarity.hyperplane_bit builds as
    # in-plan md5 expressions): the expression form costs ~3.5s of
    # driver-side Catalyst optimization PER PLAN at 4 planes x 64 dims
    # (256 md5/conv/substring subtrees folded per build — measured in
    # the round-10 closing bench, where this grader was the slowest
    # watch entry at 3.4s vs ~1.2s for its ladder peers); 256 double
    # literals plan in milliseconds and produce identical buckets
    def bucket(vec: Column) -> Column:
        acc = F.lit(0)
        for p in range(4):
            signs = F.array(
                *[F.lit(float(s)) for s in _plane_signs(p, CLU_DIMS)]
            )
            d = F.aggregate(
                F.zip_with(vec, signs, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc2, v: acc2 + v,
            )
            acc = acc + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
        return acc

    lb = cnv.select("vec_id", "nv", bucket(F.col("nv")).alias("b"))
    q = lb.filter(F.col("vec_id").isin(list(CLU_PROBES))).select(
        F.col("vec_id").alias("query_id"),
        F.col("nv").alias("qv"),
        F.col("b").alias("qb"),
    )
    cand = lb.join(
        F.broadcast(q),
        (F.col("b") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot(F.col("qv"), F.col("nv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    approx = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CLU_K)
        .select("query_id", "neighbor_id")
    )
    return _clu_grade(_clu_truth_stored(spark, sf_dir), approx)


@register(
    "clustered_pq_recall_at_k",
    oracle=_CLU_PREFIX + _CLU_TRUTH + _clu_pq_scored_sql("cnrm")
    + _CLU_PQ_TOP + _CLU_GRADE,
    description="recall@5 of flat PQ-ADC (contiguous 4x16 subspaces, "
    "quantized integer score sums) on the CLUSTERED evaluation "
    "corpus — the ladder's floor rung and the baseline the OPQ "
    "re-adjudication (clustered_opq_recall_at_k) compares against: "
    "0.08 at sf0.01, unchanged from the isotropic corpus, because "
    "contiguous slices concentrate the high-variance cluster "
    "directions into few subspaces. The index is built in-query from "
    "the same stride-sample spec as functions/pq_store.py.",
    tags=("similarity", "ann", "quantization", "evaluation", "clustered"),
)
def clustered_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    approx = _top5_by_scoreq(_clu_pq_scored(cnv.select("vec_id", "nv")))
    return _clu_grade(_clu_truth_stored(spark, sf_dir), approx)


@register(
    "clustered_opq_recall_at_k",
    oracle=_CLU_PREFIX + _CLU_TRUTH + _CLU_PNRM + _clu_pq_scored_sql("pnrm")
    + _CLU_PQ_TOP + _CLU_GRADE,
    description="The OPQ re-adjudication (VERDICT r9 item 2): "
    "permutation-form eigenvalue allocation — per-dim variance from "
    "integer-quantized components, dims dealt round-robin across the "
    "4 subspaces by decreasing variance (the SQL-expressible core of "
    "Ge et al. 2014 OPQ; full-rotation OPQ refines the same "
    "objective), then the identical quantized PQ-ADC chain in the "
    "permuted space, graded against the unpermuted exact truth. "
    "Measured at sf0.01: 0.16 vs flat PQ's 0.08 — the allocation "
    "HELPS (2x) on clustered data, reversing the isotropic-corpus "
    "rejection where full PCA measured 0.08 -> 0.04; both results "
    "stand, per corpus regime, and are recorded in PERF.md. The "
    "64-element permutation is one broadcast row computed in-engine "
    "— no collect, no UDF, exact BIGINT ranking algebra.",
    tags=("similarity", "ann", "quantization", "opq", "evaluation", "clustered"),
)
def clustered_opq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    approx = _top5_by_scoreq(_clu_pq_scored(_clu_permuted(cnv)))
    return _clu_grade(_clu_truth_stored(spark, sf_dir), approx)


@register(
    "clustered_ivf_recall_at_k",
    oracle=_CLU_PREFIX + _CLU_TRUTH + _CLU_IVF + _CLU_IVF_TOP + _CLU_GRADE,
    description="recall@5 of flat 3-probe IVF (stride-sampled "
    "centroids, exact float dots inside the probed lists) on the "
    "CLUSTERED evaluation corpus: 1.00 at sf0.01 — the stride "
    "centroids land inside the mixture components, so probing the 3 "
    "nearest lists recovers the query's whole cluster; the number "
    "that shows WHY inverted-file pruning is the scale path when the "
    "data actually has neighborhood structure (on the isotropic "
    "corpus ivf_recall_at_k needs every-list luck instead). Scan "
    "cost: n_probe/sqrt(n) of the corpus at full float width — the "
    "quality/cost tradeoff the IVFADC rung then compresses.",
    tags=("similarity", "ann", "ivf", "evaluation", "clustered"),
)
def clustered_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    asg, probes = _clu_ivf_parts(spark, cnv, sf_dir)
    cand = asg.join(
        F.broadcast(probes.select("query_id", "qv", "list_id")), "list_id"
    ).filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot(F.col("qv"), F.col("nv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    approx = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CLU_K)
        .select("query_id", "neighbor_id")
    )
    return _clu_grade(_clu_truth_stored(spark, sf_dir), approx)


@register(
    "clustered_ivfpq_recall_at_k",
    oracle=_CLU_PREFIX + _CLU_TRUTH + _CLU_IVF + _CLU_IVFPQ + _CLU_GRADE,
    description="recall@5 of IVFADC (coarse stride centroids + "
    "residual product quantization, quantized integer ADC sums) on "
    "the CLUSTERED evaluation corpus: 0.20 at sf0.01 vs flat PQ's "
    "0.08 — residual encoding beats flat PQ at the same 4-int code "
    "budget once the data has cluster structure for the centroids to "
    "absorb (on the isotropic corpus the two tie at 0.08, the "
    "fixture artifact VERDICT r9 flagged). Same probed-scan shape as "
    "embedding_ivfpq_topk: integer code table only, floats confined "
    "to the probe and LUT subtrees.",
    tags=("similarity", "ann", "ivf", "quantization", "evaluation", "clustered"),
)
def clustered_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    asg, probes = _clu_ivf_parts(spark, cnv, sf_dir)
    res = asg.select(
        "vec_id",
        "list_id",
        F.zip_with("nv", "cvec", lambda x, c: x - c).alias("rv"),
    )
    rcb = (
        res.filter((F.col("vec_id") % 31) == 0)
        .orderBy("vec_id")
        .limit(16)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
            "rv",
        )
    )
    jarr = lambda col: F.posexplode(  # noqa: E731
        F.array(*[_subvec(F.col(col), F.lit(j)) for j in range(4)])
    )
    rcb_sub = rcb.select("cid", jarr("rv").alias("j", "cvec"))
    res_sub = res.select("vec_id", "list_id", jarr("rv").alias("j", "sv"))
    code_w = Window.partitionBy("vec_id", "j").orderBy(F.asc("d"), F.asc("cid"))
    rcodes = (
        res_sub.join(F.broadcast(rcb_sub), "j")
        .select(
            "vec_id",
            "list_id",
            "j",
            "cid",
            _sq_l2(F.col("sv"), F.col("cvec")).alias("d"),
        )
        .withColumn("rn", F.row_number().over(code_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "list_id", "j", "cid")
    )
    qprobes = probes.select(
        "query_id",
        "list_id",
        F.round(F.col("cdot") * ADC_SCALE, 0).cast("bigint").alias("cq"),
    )
    q = _clu_probes(cnv)
    q_sub = q.select(
        "query_id", jarr("qv").alias("j", "qsv")
    )
    rlut = q_sub.join(F.broadcast(rcb_sub), "j").select(
        "query_id",
        "j",
        "cid",
        F.round(dot(F.col("qsv"), F.col("cvec")) * ADC_SCALE, 0)
        .cast("bigint")
        .alias("pq"),
    )
    scored = (
        rcodes.join(F.broadcast(qprobes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(rlut), ["query_id", "j", "cid"])
        .groupBy("query_id", "vec_id")
        .agg((F.min("cq") + F.sum("pq")).cast("bigint").alias("score_q"))
    )
    return _clu_grade(_clu_truth_stored(spark, sf_dir), _top5_by_scoreq(scored))


@register(
    "clustered_pq_rerank_recall_at_k",
    oracle=_CLU_PREFIX + _CLU_TRUTH + _clu_pq_scored_sql("cnrm")
    + _CLU_RERANK + _CLU_GRADE,
    description="recall@5 of the two-stage PQ-ADC shortlist (100 "
    "candidates, integer code scan) + exact cosine re-rank on the "
    "CLUSTERED evaluation corpus: 0.96 at sf0.01 — the production "
    "pattern holds its near-exact quality on clustered data too "
    "(isotropic corpus: 0.76), completing the ladder separation "
    "brute 1.00 / ivf 1.00 / rerank 0.96 / lsh-bucket 0.28 / ivfpq "
    "0.20 / opq 0.16 / pq 0.08 that the old fixture could not show. "
    "Floats touch only the |q| x 100 broadcast-joined shortlist "
    "rows, as in embedding_pq_rerank_topk.",
    tags=("similarity", "ann", "quantization", "evaluation", "clustered"),
)
def clustered_pq_rerank_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    # pinned: the (vec_id, nv) corpus feeds the ADC encoding AND the
    # exact re-rank join — two full derivations of the md5-clustered
    # corpus without the pin (the codebook/probe subsets stay cheap
    # pushed-filter scans either way, but these two consumers cannot
    # push). Adjudicated end-to-end under both actions (§ r13 notes).
    nvd = pin(cnv.select("vec_id", "nv"))
    scored = _clu_pq_scored(nvd)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("vec_id")
    )
    short = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= CLU_SHORTLIST)
        .select("query_id", "vec_id")
    )
    q = _clu_probes(cnv)
    exact = (
        F.broadcast(short)
        .join(nvd, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("qv"), F.col("nv")), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    approx = (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= CLU_K)
        .select("query_id", "neighbor_id")
    )
    return _clu_grade(_clu_truth_stored(spark, sf_dir), approx)


# ---------------------------------------------------------------------------
# Hybrid fusion grader (VERDICT r11 item 2): does RRF fusion beat each
# leg alone? The clustered fixture gets a PLANTED LEXICAL layer derived
# from spec — md5-seeded, so the oracle re-derives it — and the grader
# measures in-cluster relevance overlap@10 for the BM25-order lexical
# leg, the LSH-bucket vector leg, and their RRF fusion.
# ---------------------------------------------------------------------------

HYB_CARRIER = 60  # % of docs carrying their own cluster's topic term
HYB_XTALK = 10  # % also carrying the NEXT cluster's term (lexical noise)
HYB_FILL_MIN = 6  # filler-token count floor (dl = fillers + topic terms)
HYB_LEG_K = 20  # per-leg retrieval depth
HYB_TOPK = 10  # fused depth graded
HYB_RRF_K = 60  # the canonical RRF constant (Cormack et al. 2009)

# Planted-lexical spec (identical on both engines):
#   carrier(v) = md5_prefix_hash('lex|' || vec_id) % 100 < 60
#   xtalk(v)   = md5_prefix_hash('xt|'  || vec_id) % 100 < 10
#   fillers(v) = 6 + md5_prefix_hash('len|' || vec_id) % 10
#   tokens(v)  = fillers distinct filler terms
#                ++ ['topic' || c(v)]           if carrier
#                ++ ['topic' || (c(v)+1) % 8]   if xtalk
# Query terms are single topic terms with tf = 1 in every carrying doc,
# so the BM25 ordering reduces EXACTLY to (doc length asc, vec_id asc)
# — idf is constant per query and the tf/(tf + k1*(1-b+b*dl/avgdl))
# factor is strictly decreasing in dl. The grader ranks by that order
# directly: the rank order BM25 induces, with zero float arithmetic.


def _hyb_oracle() -> str:
    bits = []
    for p in range(4):
        signs = "[" + ", ".join(
            f"{s}.0" for s in _plane_signs(p, CLU_DIMS)
        ) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {CLU_DIMS}), "
            f"i -> nv[i] * ({signs})[i])) > 0 THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(bits)
    return _CLU_PREFIX + f""",
    lex_doc AS MATERIALIZED (
      SELECT vec_id, c,
             ('0x' || substr(md5('lex|' || vec_id), 1, 8))::BIGINT % 100
               < {HYB_CARRIER} AS carrier,
             ('0x' || substr(md5('xt|' || vec_id), 1, 8))::BIGINT % 100
               < {HYB_XTALK} AS xtalk,
             {HYB_FILL_MIN} + ('0x' || substr(md5('len|' || vec_id), 1, 8))::BIGINT
               % 10 AS fillers
      FROM cnrm
    ),
    lq AS (SELECT vec_id AS query_id, c AS qc FROM cnrm
           WHERE vec_id IN ({_CLU_IN})),
    lcand AS (
      SELECT q.query_id, d.vec_id AS neighbor_id, d.c,
             d.fillers + CASE WHEN d.carrier THEN 1 ELSE 0 END
                       + CASE WHEN d.xtalk THEN 1 ELSE 0 END AS dl
      FROM lq q JOIN lex_doc d
        ON d.vec_id <> q.query_id
       AND ((d.carrier AND d.c = q.qc)
            OR (d.xtalk AND (d.c + 1) % {CLU_NC} = q.qc))
    ),
    lex AS MATERIALIZED (
      SELECT query_id, neighbor_id, c, rank_lex FROM (
        SELECT query_id, neighbor_id, c,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dl ASC, neighbor_id) AS rank_lex
        FROM lcand) WHERE rank_lex <= {HYB_LEG_K}
    ),
    lb AS MATERIALIZED (SELECT vec_id, c, nv, {bucket} AS b FROM cnrm),
    hvq AS (SELECT vec_id AS query_id, nv AS qv, b AS qb FROM lb
            WHERE vec_id IN ({_CLU_IN})),
    vcand AS (
      SELECT q.query_id, n.vec_id AS neighbor_id, n.c,
             round(list_sum(list_transform(generate_series(1, {CLU_DIMS}),
                 i -> q.qv[i] * n.nv[i])), 6) AS score
      FROM lb n JOIN hvq q ON n.b = q.qb AND n.vec_id <> q.query_id
    ),
    vec AS MATERIALIZED (
      SELECT query_id, neighbor_id, c, rank_vec FROM (
        SELECT query_id, neighbor_id, c,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rank_vec
        FROM vcand) WHERE rank_vec <= {HYB_LEG_K}
    ),
    fused AS (
      SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.neighbor_id, v.neighbor_id) AS neighbor_id,
             coalesce(l.c, v.c) AS c,
             round(coalesce(1.0 / ({HYB_RRF_K} + l.rank_lex), 0)
                   + coalesce(1.0 / ({HYB_RRF_K} + v.rank_vec), 0), 6) AS rrf
      FROM lex l FULL OUTER JOIN vec v
        ON l.query_id = v.query_id AND l.neighbor_id = v.neighbor_id
    ),
    rrf_top AS MATERIALIZED (
      SELECT query_id, neighbor_id, c FROM (
        SELECT query_id, neighbor_id, c,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, neighbor_id) AS r
        FROM fused) WHERE r <= {HYB_TOPK}
    ),
    qcm AS (SELECT vec_id AS query_id, c AS qc FROM cnrm
            WHERE vec_id IN ({_CLU_IN}))
    SELECT q.query_id,
           (SELECT count(*) FROM lex l WHERE l.query_id = q.query_id
              AND l.rank_lex <= {HYB_TOPK} AND l.c = q.qc) AS n_lex,
           (SELECT count(*) FROM vec v WHERE v.query_id = q.query_id
              AND v.rank_vec <= {HYB_TOPK} AND v.c = q.qc) AS n_vec,
           (SELECT count(*) FROM rrf_top r WHERE r.query_id = q.query_id
              AND r.c = q.qc) AS n_rrf,
           round((SELECT count(*) FROM lex l WHERE l.query_id = q.query_id
              AND l.rank_lex <= {HYB_TOPK} AND l.c = q.qc) / {HYB_TOPK}.0, 6)
             AS p_lex,
           round((SELECT count(*) FROM vec v WHERE v.query_id = q.query_id
              AND v.rank_vec <= {HYB_TOPK} AND v.c = q.qc) / {HYB_TOPK}.0, 6)
             AS p_vec,
           round((SELECT count(*) FROM rrf_top r WHERE r.query_id = q.query_id
              AND r.c = q.qc) / {HYB_TOPK}.0, 6) AS p_rrf
    FROM qcm q ORDER BY q.query_id
    """


def _hyb_bucket(vec: Column) -> Column:
    """4-plane LSH bucket from pre-computed sign literals — the same
    expression-form tradeoff clustered_lsh_recall_at_k documents (256
    md5 subtrees cost ~3.5s of Catalyst folding per plan; 256 double
    literals plan in milliseconds, identical buckets)."""
    acc = F.lit(0)
    for p in range(4):
        signs = F.array(*[F.lit(float(s)) for s in _plane_signs(p, CLU_DIMS)])
        d = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc2, v: acc2 + v,
        )
        acc = acc + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def _hyb_lex_leg(cnv: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, c, rank_lex): the planted lexical leg.
    Candidates = docs whose planted token list contains the query's
    topic term (own-cluster carriers + next-cluster cross-talk),
    ranked in the order single-term BM25 induces for tf=1 — ascending
    doc length, vec_id tiebreak (idf is per-query constant; the
    tf-saturation factor is strictly decreasing in dl). 100 TB shape:
    a real deployment serves this leg from the inverted term index
    (bm25_retrieval_topk's term-filtered scan); here the candidate
    filter is a 5-row broadcast against one corpus scan."""
    h = lambda tag: (  # noqa: E731
        md5_prefix_hash(F.concat(F.lit(tag), F.col("vec_id").cast("string")), 8)
    )
    lex_doc = cnv.select(
        "vec_id",
        "c",
        (h("lex|") % 100 < HYB_CARRIER).alias("carrier"),
        (h("xt|") % 100 < HYB_XTALK).alias("xtalk"),
        (F.lit(HYB_FILL_MIN) + h("len|") % 10).alias("fillers"),
    )
    lq = cnv.filter(F.col("vec_id").isin(list(CLU_PROBES))).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    cand = (
        lex_doc.crossJoin(F.broadcast(lq))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (
                (F.col("carrier") & (F.col("c") == F.col("qc")))
                | (F.col("xtalk") & ((F.col("c") + 1) % CLU_NC == F.col("qc")))
            )
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "c",
            (
                F.col("fillers")
                + F.col("carrier").cast("int")
                + F.col("xtalk").cast("int")
            ).alias("dl"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dl"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank_lex", F.row_number().over(w))
        .filter(F.col("rank_lex") <= HYB_LEG_K)
        .select("query_id", "neighbor_id", "c", "rank_lex")
    )


def _hyb_vec_leg(cnv: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, c, rank_vec): the vector leg — the
    bucket-only LSH rung (deliberately the COARSE rung: its per-query
    misses are what the lexical leg must rescue for the fusion claim
    to be non-trivial), exact cosine inside the bucket, top-20."""
    lb = cnv.select("vec_id", "c", "nv", _hyb_bucket(F.col("nv")).alias("b"))
    q = lb.filter(F.col("vec_id").isin(list(CLU_PROBES))).select(
        F.col("vec_id").alias("query_id"),
        F.col("nv").alias("qv"),
        F.col("b").alias("qb"),
    )
    cand = lb.join(
        F.broadcast(q),
        (F.col("b") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "c",
        F.round(dot(F.col("qv"), F.col("nv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank_vec", F.row_number().over(w))
        .filter(F.col("rank_vec") <= HYB_LEG_K)
        .select("query_id", "neighbor_id", "c", "rank_vec")
    )


@register(
    "hybrid_fusion_relevance_at_k",
    oracle=_hyb_oracle(),
    description="The hybrid ranker's quality grader (VERDICT r11 item "
    "2 — the one retrieval rung that shipped without one): in-cluster "
    "relevance overlap@10 of the RRF fusion vs EACH leg alone, on the "
    "clustered evaluation corpus extended with a planted lexical "
    "layer the oracle re-derives from spec (60% of docs carry their "
    "own cluster's topic term, 10% also carry the next cluster's — "
    "the lexical false-positive source; md5-derived doc lengths give "
    "the BM25 order something to rank). Lexical leg = single-term "
    "BM25 order (= dl asc for tf=1, zero float arithmetic), vector "
    "leg = bucket-only LSH + exact cosine (deliberately the coarse "
    "rung), fused by RRF K=60. Measured at sf0.01: in-cluster@10 "
    "totals lex 45/50, vec 43/50, rrf 47/50 — fusion beats BOTH legs "
    "(complementary errors: the probe whose LSH bucket holds 3/10 "
    "in-cluster is rescued to 8 by the lexical leg), the measured "
    "answer to 'does fusion help'. 100 TB shape: each leg is a "
    "bounded audited plan (5-row broadcast probe sets against one "
    "corpus scan each); fusion and grading are k-row frames.",
    tags=("similarity", "retrieval", "rag", "rrf", "hybrid", "evaluation",
          "clustered"),
)
def hybrid_fusion_relevance_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnv = _cnv(spark, sf_dir)
    # Each leg used to feed TWO consumers (the RRF fusion and its own
    # in-cluster grading join), and the rank-column HOFs defeat plan
    # canonicalization, so every consumer re-derived the whole leg —
    # the grader ran the corpus-scale candidate join + rank window
    # twice per leg and scanned embeddings 12x in one plan. Instead of
    # pinning the k-row leg frames (a lazy localCheckpoint measured
    # 1.96x under the bench's count() action: the checkpoint computes
    # every leg column at construction while count() prunes the
    # unpinned form), the fusion join now CARRIES rank_lex/rank_vec
    # through, and all three per-query counts fold over that single
    # k-row fused frame — each leg is consumed exactly once by
    # construction: 12 embeddings scans -> 6 (four of them the 5-row
    # pushed-filter probe lookups), each rank window planned once.
    # (_cnv itself stays unpinned per its own note.)
    lex = _hyb_lex_leg(cnv)
    vec = _hyb_vec_leg(cnv)
    fused = (
        lex.select(
            "query_id", "neighbor_id", F.col("c").alias("c_l"), "rank_lex"
        )
        .join(
            vec.select(
                "query_id", "neighbor_id", F.col("c").alias("c_v"), "rank_vec"
            ),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .select(
            "query_id",
            "neighbor_id",
            # both legs carry the neighbor's cluster id from the same
            # corpus derivation, so the coalesce is order-invariant
            F.coalesce("c_l", "c_v").alias("c"),
            "rank_lex",
            "rank_vec",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(HYB_RRF_K) + F.col("rank_lex")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(HYB_RRF_K) + F.col("rank_vec")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf"),
        )
    )
    qcm = cnv.filter(F.col("vec_id").isin(list(CLU_PROBES))).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    # the RRF rank is a window over the <= |probes| x 2k-row fused
    # frame; every fused query_id is a probe, so the inner broadcast
    # join attaches qc without changing the row set, and the three
    # in-cluster counts (leg hits at leg rank <= k, fused hits at RRF
    # rank <= k) fold in ONE aggregate over that frame
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )

    def hits(cond: Column) -> Column:
        return F.sum(
            F.when(cond & (F.col("c") == F.col("qc")), 1).otherwise(0)
        ).cast("bigint")

    agg = (
        fused.join(F.broadcast(qcm), "query_id")
        .withColumn("r", F.row_number().over(rw))
        .groupBy("query_id")
        .agg(
            hits(F.col("rank_lex") <= HYB_TOPK).alias("n_lex"),
            hits(F.col("rank_vec") <= HYB_TOPK).alias("n_vec"),
            hits(F.col("r") <= HYB_TOPK).alias("n_rrf"),
        )
    )
    out = (
        # left join keeps a probe whose legs both returned nothing
        qcm.join(F.broadcast(agg), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_lex", F.lit(0)).cast("bigint").alias("n_lex"),
            F.coalesce("n_vec", F.lit(0)).cast("bigint").alias("n_vec"),
            F.coalesce("n_rrf", F.lit(0)).cast("bigint").alias("n_rrf"),
        )
        .select(
            "query_id",
            "n_lex",
            "n_vec",
            "n_rrf",
            F.round(F.col("n_lex") / F.lit(float(HYB_TOPK)), 6).alias("p_lex"),
            F.round(F.col("n_vec") / F.lit(float(HYB_TOPK)), 6).alias("p_vec"),
            F.round(F.col("n_rrf") / F.lit(float(HYB_TOPK)), 6).alias("p_rrf"),
        )
        .orderBy("query_id")
    )
    return out
