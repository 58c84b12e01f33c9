"""Graph-algorithm procedure CALLs: the reference's ``CALL algo.*``
invocations executed verbatim.

The reference's whole analytic methodology is procedure-shaped
(reference documentation/queries.md:88-90 louvain.stream, :124-127
scc, :180-182 pageRank; bin/install_neo4j_plugins.sh installs the
plugin): run the algorithm over a (label, relType) projection, WRITE
the result property back, YIELD a stats row. This module compiles that
exact surface onto the engine's DataFrame algorithms
(graph/algorithms.py) and the immutable write-back
(graph/mutations.py with_vertex_property):

    g2, row = call_procedure(g, "algo.pageRank", "NodeModule",
                             "DEPENDS_ON", {"iterations": 100,
                             "dampingFactor": 0.85, "write": True,
                             "writeProperty": "pagerank"})

``cypher.run_cypher`` routes ``CALL algo.*`` query text here, so step
1 of every reference workflow runs verbatim and step 2 (the MATCH
read-back) sees the written property.

The millis columns are measured wall clock (load ≈ projection build,
compute ≈ algorithm, write ≈ the property join) — real numbers, not
zeros, but inherently nondeterministic, exactly like Neo4j's.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin, pin_counted
from github_miner_spark.graph.model import PropertyGraph
from github_miner_spark.graph.mutations import with_vertex_property

PROCEDURES = (
    "algo.pageRank",
    "algo.scc",
    "algo.unionFind",
    "algo.louvain.stream",
    "algo.labelPropagation",
)


def _edge_projection(g: PropertyGraph, label: str, rel: str) -> DataFrame:
    """The (label, relType) projection every procedure call names:
    rel-typed edges between same-labeled endpoints — pure edge-column
    filters (src_label/dst_label live on the edge table)."""
    e = g.edges
    return e.filter(
        (e.rel_type == rel) & (e.src_label == label) & (e.dst_label == label)
    ).select("src", "dst")


def call_procedure(
    g: PropertyGraph, proc: str, label: str, rel: str, opts: dict
) -> tuple[PropertyGraph, dict]:
    """Execute one procedure; returns (graph-after-write, yield row).

    The yield dict carries every column Neo4j's procedure can YIELD for
    that algorithm; the Cypher front-end projects the subset the query
    text asks for, in its order.
    """
    t0 = time.perf_counter()
    sub = _edge_projection(g, label, rel)
    load_ms = int((time.perf_counter() - t0) * 1000)

    write = bool(opts.get("write", False))

    def _pin(df: DataFrame) -> DataFrame:
        # write:true reads the result twice (YIELD stats here + the
        # with_vertex_property join every read-back pays) — pin the
        # one-row-per-vertex assignment so the algorithm runs once,
        # not once per consumer. YIELD-only calls stay lazy.
        return pin(df, eager=True) if write else df

    def _counted(df: DataFrame) -> tuple[DataFrame, int]:
        # the ``nodes`` YIELD column: under write:true the pin job
        # itself observes the count
        return pin_counted(df) if write else (df, df.count())

    t1 = time.perf_counter()
    if proc == "algo.pageRank":
        from github_miner_spark.graph.algorithms import pagerank

        iterations = int(opts.get("iterations", 20))
        damping = float(opts.get("dampingFactor", 0.85))
        result, n = _counted(pagerank(sub, iterations=iterations, damping=damping).select(
            "id", F.round("rank", 6).alias("value")
        ))
        compute_ms = int((time.perf_counter() - t1) * 1000)
        row = {
            "nodes": n,
            "iterations": iterations,
            "dampingFactor": damping,
            "write": write,
            "writeProperty": opts.get("writeProperty", "pagerank"),
        }
    elif proc == "algo.scc":
        from github_miner_spark.graph.algorithms import strongly_connected_components

        result = _pin(strongly_connected_components(sub).select(
            "id", F.col("component").alias("value")
        ))
        sizes = result.groupBy("value").agg(F.count("*").alias("sz"))
        stats = sizes.agg(
            F.count("*").alias("setCount"),
            F.max("sz").alias("maxSetSize"),
            F.min("sz").alias("minSetSize"),
        ).collect()[0]
        compute_ms = int((time.perf_counter() - t1) * 1000)
        row = {
            "setCount": stats["setCount"],
            "maxSetSize": stats["maxSetSize"],
            "minSetSize": stats["minSetSize"],
        }
    elif proc == "algo.unionFind":
        # the 3.5 plugin's connected-components procedure (weakly
        # connected; the undirected twin of algo.scc)
        from github_miner_spark.graph.algorithms import connected_components

        result = _pin(connected_components(sub).select(
            "id", F.col("component").alias("value")
        ))
        sizes = result.groupBy("value").agg(F.count("*").alias("sz"))
        stats = sizes.agg(
            F.count("*").alias("setCount"),
            F.max("sz").alias("maxSetSize"),
            F.min("sz").alias("minSetSize"),
        ).collect()[0]
        compute_ms = int((time.perf_counter() - t1) * 1000)
        row = {
            "setCount": stats["setCount"],
            "maxSetSize": stats["maxSetSize"],
            "minSetSize": stats["minSetSize"],
        }
    elif proc == "algo.louvain.stream":
        from github_miner_spark.graph.algorithms import louvain

        max_sweeps = int(opts.get("iterations", 3))
        result, n = _counted(louvain(sub, max_sweeps=max_sweeps).select(
            "id", F.col("community").alias("value")
        ))
        n_comm = result.select("value").distinct().count()
        compute_ms = int((time.perf_counter() - t1) * 1000)
        row = {"nodes": n, "communityCount": n_comm, "iterations": max_sweeps}
    elif proc == "algo.labelPropagation":
        from github_miner_spark.graph.algorithms import label_propagation

        iterations = int(opts.get("iterations", 10))
        result, n = _counted(label_propagation(sub, iterations=iterations).select(
            "id", F.col("community").alias("value")
        ))
        compute_ms = int((time.perf_counter() - t1) * 1000)
        row = {"nodes": n, "iterations": iterations}
    else:
        raise NotImplementedError(
            f"procedure {proc!r} — supported: {PROCEDURES} "
            "(graph/procedures.py)"
        )

    t2 = time.perf_counter()
    out = g
    if write:
        prop = opts.get("writeProperty")
        if not prop:
            raise ValueError(f"{proc}: write:true needs writeProperty")
        out = with_vertex_property(g, prop, result, val_col="value")
        # materialize the join lazily; the write cost is what the
        # read-back pays — record the plan-build time here
    write_ms = int((time.perf_counter() - t2) * 1000)
    row.update(
        {"loadMillis": load_ms, "computeMillis": compute_ms, "writeMillis": write_ms}
    )
    return out, row


def stream_rows(
    g: PropertyGraph, proc: str, label: str, rel: str, opts: dict
) -> DataFrame:
    """algo.*.stream with YIELD nodeId, community — the per-node
    assignment rows Neo4j streams (no write-back)."""
    sub = _edge_projection(g, label, rel)
    if proc == "algo.pageRank.stream":
        from github_miner_spark.graph.algorithms import pagerank

        ranks = pagerank(
            sub,
            iterations=int(opts.get("iterations", 20)),
            damping=float(opts.get("dampingFactor", 0.85)),
        )
        return ranks.select(
            F.col("id").alias("nodeId"), F.round("rank", 6).alias("score")
        )
    if proc == "algo.louvain.stream":
        from github_miner_spark.graph.algorithms import louvain

        result = louvain(sub, max_sweeps=int(opts.get("iterations", 3)))
    elif proc == "algo.labelPropagation.stream":
        from github_miner_spark.graph.algorithms import label_propagation

        result = label_propagation(sub, iterations=int(opts.get("iterations", 10)))
    else:
        raise NotImplementedError(
            f"stream rows for {proc!r} — supported: algo.pageRank.stream, "
            "algo.louvain.stream, algo.labelPropagation.stream "
            "(graph/procedures.py)"
        )
    return result.select(F.col("id").alias("nodeId"), F.col("community").alias("community"))
