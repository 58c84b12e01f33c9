"""Materialized walk-corpus store: the deterministic walk corpora are
built once per source dir and served to every embedding-prep query.

Same architecture as graph/store.py and functions/text_store.py, and
the same reasoning at 100 TB: the walk corpus is a pure function of
(module graph, scheme, steps, seeds) — generating it is ETL, a 4-step
join pipeline over the edge table — and three queries consume it
(deterministic_random_walks, node2vec_biased_walks,
walk_skipgram_pairs), so no query should re-derive it per run
(VERDICT r7 item 3: the three re-derivations were three of the ten
slowest watch entries). A DeepWalk/node2vec training pipeline
materializes its walk corpus for exactly this reason: the skip-gram
phase re-reads it every epoch.

Content-addressed by the same base-table identities the graph store
keys on PLUS a walk-spec version string, so either a regenerated
source dir or a walk-algebra change invalidates the store; landed by
the shared publish step (io/store_key.py).
The ORACLES deliberately keep re-deriving the walks from spec
(unrolled CTE chains) — grading stays independent of the store, so a
corrupted or stale store fails the driver hash instead of being
silently graded against itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.io.store_key import (
    GRAPH_BASE_TABLES,
    PARQUET_DIR_ENTRIES,
    content_key,
    publish,
    read_store,
)

STORE_ROOT = os.environ.get("SPARK_GRAFT_WALK_STORE", "/tmp/spark-graft-walks")

# Bump when the walk algebra changes (hash width, factor scheme, step
# count, seed set): the version participates in the content address,
# so an engine change can never serve walks built by the old algebra.
WALK_SPEC_VERSION = "det4x2-md5x15|n2v4x2-md5x14-p4q.25"

WALK_STEPS = 4
WALK_SEEDS = (0, 1)


def _store_dir(sf_dir: str) -> str:
    """Key = source path + the walk-spec version + (name, size, mtime)
    of the base-table files the module graph derives from — the SAME
    list the graph store keys on (io/store_key.py), since the walks
    are a pure function of that store's output."""
    key = content_key(
        sf_dir,
        [(n, n) for n in GRAPH_BASE_TABLES],
        extra=(WALK_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def build_det_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the deterministic 4-step walk state (start, seed, cur,
    path, depth) from the module graph — two walks per start module,
    each step following the out-neighbor minimizing a 60-bit
    md5-derived score of (seed, step, start, candidate). Per-step
    state is ONE ROW per walk; the candidate expansion is a
    walk-state x edges equi-join whose edge-side exchange Spark
    reuses across all four steps, and the per-walk argmin is a
    map-side-combinable min(struct(score, dst)) — no window, no sort,
    no driver state (reference parity: the embedding-prep corpus of a
    DeepWalk-style pipeline; oracle twin _walks_oracle_ctes)."""
    from github_miner_spark.functions.text import token_hash60
    from github_miner_spark.graph.store import load_graph

    mm = load_graph(spark, sf_dir).module_dep_edges()
    e = mm.select("src", "dst")
    starts = e.select(F.col("src").alias("start")).distinct()
    state = starts.select(
        "start", F.explode(F.array(*[F.lit(s) for s in WALK_SEEDS])).alias("seed")
    ).select(
        "start",
        "seed",
        F.col("start").alias("cur"),
        F.col("start").cast("string").alias("path"),
        F.lit(0).alias("depth"),
    )
    for i in range(1, WALK_STEPS + 1):
        j = state.join(e, state["cur"] == e["src"], "left")
        score = token_hash60(
            F.concat_ws(
                "|", F.col("seed"), F.lit(i), F.col("start"), F.col("dst")
            )
        )
        picked = j.groupBy("start", "seed", "cur", "path", "depth").agg(
            F.min(
                F.when(
                    F.col("dst").isNotNull(),
                    F.struct(score.alias("s"), F.col("dst").alias("d")),
                )
            ).alias("m")
        )
        state = picked.select(
            "start",
            "seed",
            F.when(F.col("m").isNull(), F.col("cur"))
            .otherwise(F.col("m.d"))
            .alias("cur"),
            F.when(F.col("m").isNull(), F.col("path"))
            .otherwise(
                F.concat(
                    F.col("path"), F.lit("->"), F.col("m.d").cast("string")
                )
            )
            .alias("path"),
            (
                F.col("depth")
                + F.when(F.col("m").isNull(), F.lit(0)).otherwise(F.lit(1))
            ).alias("depth"),
        )
    return state


def build_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the second-order (node2vec, Grover & Leskovec 2016)
    biased walk state (start, seed, cur, path, depth): each step
    weights candidates by the p/q scheme using distance from the
    PREVIOUS node — return / distance-1 / distance-2 candidates carry
    integer factors 16/4/1 (p=4, q=1/4) and the pick is argmin of a
    56-bit md5 uniform times the factor (56-bit x 16 stays inside
    BIGINT). The distance classification is one extra equi-join per
    step against the same reused edge exchange; state stays one row
    per walk and the argmin stays a map-side min(struct)."""
    from github_miner_spark.functions.text import md5_prefix_hash
    from github_miner_spark.graph.store import load_graph

    mm = load_graph(spark, sf_dir).module_dep_edges()
    e = mm.select("src", "dst")
    adj = e.select(
        F.col("src").alias("prev"), F.col("dst").alias("dst"), F.lit(1).alias("adj")
    )
    starts = e.select(F.col("src").alias("start")).distinct()
    state = starts.select(
        "start", F.explode(F.array(*[F.lit(s) for s in WALK_SEEDS])).alias("seed")
    ).select(
        "start",
        "seed",
        F.col("start").alias("prev"),
        F.col("start").alias("cur"),
        F.col("start").cast("string").alias("path"),
        F.lit(0).alias("depth"),
    )
    for i in range(1, WALK_STEPS + 1):
        j = state.join(e, state["cur"] == e["src"], "left")
        # 14 hex chars (56 bits): the largest width whose x16 factor
        # product stays inside positive BIGINT
        u = md5_prefix_hash(
            F.concat_ws("|", F.col("seed"), F.lit(i), F.col("start"), F.col("dst")),
            14,
        )
        if i == 1:
            score = u * F.lit(1)
        else:
            j = j.join(adj, ["prev", "dst"], "left")
            score = u * (
                F.when(F.col("dst") == F.col("prev"), F.lit(16))
                .when(F.col("adj").isNotNull(), F.lit(4))
                .otherwise(F.lit(1))
            )
        picked = j.groupBy("start", "seed", "prev", "cur", "path", "depth").agg(
            F.min(
                F.when(
                    F.col("dst").isNotNull(),
                    F.struct(score.alias("s"), F.col("dst").alias("d")),
                )
            ).alias("m")
        )
        state = picked.select(
            "start",
            "seed",
            F.when(F.col("m").isNull(), F.col("prev"))
            .otherwise(F.col("cur"))
            .alias("prev"),
            F.when(F.col("m").isNull(), F.col("cur"))
            .otherwise(F.col("m.d"))
            .alias("cur"),
            F.when(F.col("m").isNull(), F.col("path"))
            .otherwise(
                F.concat(F.col("path"), F.lit("->"), F.col("m.d").cast("string"))
            )
            .alias("path"),
            (
                F.col("depth")
                + F.when(F.col("m").isNull(), F.lit(0)).otherwise(F.lit(1))
            ).alias("depth"),
        )
    return state.drop("prev")


_BUILDERS = {
    "det": build_det_walks,
    "n2v": build_node2vec_walks,
}


def materialize_walks(spark: SparkSession, sf_dir: str, scheme: str) -> str:
    """Ensure the ``scheme`` walk corpus for ``sf_dir`` exists on disk;
    return the store path. Each scheme publishes its own
    ``walks_<scheme>.parquet`` under the shared store dir. Walks are
    clustered by start module (sortWithinPartitions) so the skip-gram
    per-walk self-join reads clustered keys and parquet min/max stats
    prune anchored-start probes."""
    if scheme not in _BUILDERS:
        raise ValueError(f"unknown walk scheme {scheme!r}; one of {sorted(_BUILDERS)}")

    def write(stage: str) -> None:
        _BUILDERS[scheme](spark, sf_dir).sortWithinPartitions(
            "start", "seed"
        ).write.mode("overwrite").parquet(stage)

    base = _store_dir(sf_dir)
    target = os.path.join(base, f"walks_{scheme}.parquet")
    publish(STORE_ROOT, target, PARQUET_DIR_ENTRIES, write)
    return base


def load_walks(spark: SparkSession, sf_dir: str, scheme: str = "det") -> DataFrame:
    """The walk-corpus entry point: materialize (once) and read
    (start, seed, cur, path, depth) from the store."""
    base = materialize_walks(spark, sf_dir, scheme)
    return read_store(spark, os.path.join(base, f"walks_{scheme}.parquet"))
