"""Graph-algorithm queries (SURVEY.md §2.7 G1-G5): PageRank, SCC,
connected components, label propagation over the derived module graph.

SCC/CC carry full DuckDB oracles via mutual-reachability recursive CTEs
on a deterministically-cyclified subgraph. PageRank and label
propagation run a FIXED number of synchronous iterations, which makes
them SQL-expressible after all: the oracle unrolls the power iteration
/ label sweep as mechanically generated chained CTEs (one per
iteration), exactly the Neo4j-plugin formulation the reference invokes.
Louvain's adaptive local-moving phase has no tractable SQL twin and
stays rows-only (verified on planted-partition fixtures in
tests/test_algorithms.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from github_miner_spark.functions.pin import pin, pin_counted
from github_miner_spark.gate import choose_path
from github_miner_spark.graph.algorithms import (
    _symmetrize_weighted,
    connected_components,
    coreness,
    label_propagation,
    louvain,
    modularity,
    pagerank,
    strongly_connected_components,
)
from github_miner_spark.graph.model import (
    CYCLIC_EDGES_CTE,
    GRAPH_ORACLE_CTES,
    cyclic_module_edges,
)
from github_miner_spark.graph.store import load_graph
from github_miner_spark.registry import register

def _pagerank_oracle_sql(
    iterations: int = 20, damping: float = 0.85, final_select: str | None = None
) -> str:
    """Unrolled power-iteration PageRank as chained DuckDB CTEs.

    Same non-normalized Brin-Page recurrence as graph.algorithms.pagerank
    (rank = (1-d) + d * sum(rank_in / outdeg)); one CTE per iteration,
    mechanically generated, so the oracle is exact for a FIXED iteration
    count — the trick that makes the reference's algo.pageRank
    (documentation/queries.md:180-182) hash-comparable after all.
    Float literals use repr() so both engines start from the identical
    IEEE-754 constants.
    """
    base = repr(1.0 - damping)
    d = repr(damping)
    parts = [
        """
    , prverts AS MATERIALIZED (
        SELECT DISTINCT v FROM (
            SELECT src AS v FROM mm_edges UNION ALL SELECT dst FROM mm_edges
        )
    ),
    pw AS MATERIALIZED (
        SELECT src, dst,
               CAST(1.0 AS DOUBLE) / (count(*) OVER (PARTITION BY src)) AS wt
        FROM mm_edges
    ),
    pr0 AS (SELECT v AS id, CAST(1.0 AS DOUBLE) AS rank FROM prverts)
    """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""
    , pr{i} AS MATERIALIZED (
        SELECT p.v AS id,
               CAST({base} AS DOUBLE)
               + CAST({d} AS DOUBLE) * coalesce(c.msg, CAST(0.0 AS DOUBLE)) AS rank
        FROM prverts p LEFT JOIN (
            SELECT w.dst AS id, sum(q.rank * w.wt) AS msg
            FROM pr{i - 1} q JOIN pw w ON w.src = q.id GROUP BY w.dst
        ) c ON c.id = p.v
    )
    """
        )
    parts.append(
        final_select
        or f"""
    SELECT p.id AS id, v.name AS name, round(p.rank, 6) AS rank
    FROM pr{iterations} p JOIN vertices v ON v.id = p.id
    ORDER BY round(p.rank, 6) DESC, p.id
    LIMIT 20
    """
    )
    return GRAPH_ORACLE_CTES + "".join(parts)


def _label_propagation_oracle_sql(iterations: int = 8) -> str:
    """Unrolled synchronous label propagation (most-frequent neighbor
    label, ties -> min label) as chained DuckDB CTEs — the SQL twin of
    graph.algorithms.label_propagation for a fixed sweep count."""
    parts = [
        """
    , lpsym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM mm_edges WHERE src <> dst
            UNION ALL
            SELECT dst, src FROM mm_edges WHERE src <> dst
        )
    ),
    lpverts AS (
        SELECT DISTINCT v FROM (
            SELECT src AS v FROM mm_edges UNION ALL SELECT dst FROM mm_edges
        )
    ),
    lab0 AS (SELECT v AS id, v AS community FROM lpverts)
    """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""
    , lab{i} AS MATERIALIZED (
        SELECT l.id, coalesce(b.new_community, l.community) AS community
        FROM lab{i - 1} l LEFT JOIN (
            SELECT nid, community AS new_community FROM (
                SELECT nid, community,
                       row_number() OVER (
                           PARTITION BY nid ORDER BY votes DESC, community
                       ) AS rn
                FROM (
                    SELECT s.dst AS nid, l2.community, count(*) AS votes
                    FROM lpsym s JOIN lab{i - 1} l2 ON s.src = l2.id
                    GROUP BY s.dst, l2.community
                )
            ) WHERE rn = 1
        ) b ON b.nid = l.id
    )
    """
        )
    parts.append(
        f"""
    , lpsizes AS (
        SELECT community, count(*) AS sz FROM lab{iterations} GROUP BY community
    )
    SELECT count(*) AS n_communities, max(sz) AS largest, min(sz) AS smallest
    FROM lpsizes
    """
    )
    return GRAPH_ORACLE_CTES + "".join(parts)


def _louvain_phase1_sql(in_rel: str, m2_rel: str, k_rel: str, prefix: str, max_sweeps: int) -> tuple[list[str], str]:
    """Unroll _louvain_phase1 as chained MATERIALIZED CTEs.

    Exactness argument: every aggregate is a sum of 1.0-weights or of
    integer-valued doubles (exact in IEEE-754 regardless of order), the
    single division by 2m is deterministic, and the argmax tie-break
    (score DESC, community ASC) plus md5 parity reproduce Spark's
    deterministic sweep schedule bit-for-bit. Both sides run exactly
    ``max_sweeps`` sweeps (a converged sweep moves nothing and is the
    identity).
    """
    parity_expr = "(CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) % 2)"
    ctes = [
        f"{k_rel} AS MATERIALIZED (SELECT src AS id, sum(w) AS k FROM {in_rel} GROUP BY src)",
        f"{prefix}_comm0 AS MATERIALIZED (SELECT id, id AS community FROM {k_rel})",
    ]
    comm = f"{prefix}_comm0"
    t = 0
    for _ in range(max_sweeps):
        for parity in (0, 1):
            t += 1
            st, ki, op, sc, bs, nc = (
                f"{prefix}_tot{t}", f"{prefix}_kin{t}", f"{prefix}_opt{t}",
                f"{prefix}_sc{t}", f"{prefix}_best{t}", f"{prefix}_comm{t}",
            )
            ctes += [
                f"{st} AS MATERIALIZED (SELECT c.community, sum(k.k) AS tot "
                f"FROM {comm} c JOIN {k_rel} k ON k.id = c.id GROUP BY c.community)",
                f"{ki} AS MATERIALIZED (SELECT s.src, c.community AS opt, sum(s.w) AS k_in "
                f"FROM {in_rel} s JOIN {comm} c ON c.id = s.dst "
                f"WHERE s.src <> s.dst GROUP BY s.src, c.community)",
                f"{op} AS MATERIALIZED (SELECT src, cur, opt, max(k_in) AS k_in FROM ("
                f"SELECT ki.src, c.community AS cur, ki.opt, ki.k_in "
                f"FROM {ki} ki JOIN {comm} c ON c.id = ki.src "
                f"UNION ALL "
                f"SELECT id AS src, community AS cur, community AS opt, "
                f"CAST(0.0 AS DOUBLE) AS k_in FROM {comm}"
                f") GROUP BY src, cur, opt)",
                f"{sc} AS MATERIALIZED (SELECT o.src, o.cur, o.opt, "
                f"o.k_in - k.k * (t.tot - CASE WHEN o.opt = o.cur THEN k.k "
                f"ELSE CAST(0.0 AS DOUBLE) END) / (SELECT m2 FROM {m2_rel}) AS score "
                f"FROM {op} o JOIN {st} t ON t.community = o.opt "
                f"JOIN {k_rel} k ON k.id = o.src)",
                f"{bs} AS MATERIALIZED (SELECT src AS id, cur, opt AS choice FROM ("
                f"SELECT src, cur, opt, row_number() OVER ("
                f"PARTITION BY src ORDER BY score DESC, opt) AS rn FROM {sc}) WHERE rn = 1)",
                f"{nc} AS MATERIALIZED (SELECT id, CASE WHEN {parity_expr} = {parity} "
                f"THEN choice ELSE cur END AS community FROM {bs})",
            ]
            comm = nc
    return ctes, comm


def _louvain_summary_parts(edge_sql: str, tag: str, max_sweeps: int) -> list[str]:
    """CTE fragments for one full two-level Louvain over the edge set
    ``edge_sql``, every name prefixed with ``tag`` so several copies can
    coexist in one query (the per-rel-type oracle unrolls three).
    Pipeline: symmetrize (matching _symmetrize_weighted verbatim,
    including its swapped-branch self-loop behavior) -> phase1 ->
    super-node aggregation -> phase1 -> map back -> canonical min-id ->
    ``{tag}sizes`` + ``{tag}q`` (modularity; rounded by the caller —
    the only order-dependent float sum is the per-community (tot/2m)^2
    reduction, whose ~1e-13 noise 4dp rounding absorbs)."""
    p1, a1 = _louvain_phase1_sql(f"{tag}sym", f"{tag}m2", f"{tag}k1", f"{tag}1", max_sweeps)
    p2, a2 = _louvain_phase1_sql(f"{tag}super", f"{tag}m2", f"{tag}k2", f"{tag}2", max_sweeps)
    body = [
        f"""
    , {tag}sub AS ({edge_sql}),
    {tag}sym AS MATERIALIZED (
        SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM {tag}sub WHERE src <> dst
                UNION ALL
                SELECT dst AS src, src AS dst FROM {tag}sub
            )
        )
    ),
    {tag}m2 AS MATERIALIZED (SELECT sum(w) AS m2 FROM {tag}sym)
    """
    ]
    body += [", " + c for c in p1]
    body.append(
        f"""
    , {tag}super AS MATERIALIZED (
        SELECT c1.community AS src, c2.community AS dst, sum(s.w) AS w
        FROM {tag}sym s
        JOIN {a1} c1 ON c1.id = s.src
        JOIN {a1} c2 ON c2.id = s.dst
        GROUP BY 1, 2
    )
    """
    )
    body += [", " + c for c in p2]
    body.append(
        f"""
    , {tag}assign AS MATERIALIZED (
        SELECT a1.id, a2.community
        FROM {a1} a1 JOIN {a2} a2 ON a2.id = a1.community
    ),
    {tag}canon AS MATERIALIZED (
        SELECT a.id, c.canon AS community
        FROM {tag}assign a JOIN (
            SELECT community, min(id) AS canon FROM {tag}assign GROUP BY community
        ) c ON c.community = a.community
    ),
    {tag}sizes AS (SELECT community, count(*) AS sz FROM {tag}canon GROUP BY community),
    {tag}internal AS (
        SELECT coalesce(sum(s.w), 0.0) AS internal
        FROM {tag}sym s
        JOIN {tag}canon c1 ON c1.id = s.src
        JOIN {tag}canon c2 ON c2.id = s.dst
        WHERE c1.community = c2.community
    ),
    {tag}tots AS (
        SELECT c.community, sum(k.k) AS tot
        FROM {tag}k1 k JOIN {tag}canon c ON c.id = k.id GROUP BY c.community
    ),
    {tag}q AS (
        SELECT (SELECT internal FROM {tag}internal) / (SELECT m2 FROM {tag}m2)
               - (SELECT sum((tot / (SELECT m2 FROM {tag}m2))
                             * (tot / (SELECT m2 FROM {tag}m2))) FROM {tag}tots) AS q
    )
    """
    )
    return body


def _louvain_oracle_sql(lo: int, hi: int, max_sweeps: int = 3) -> str:
    """The full louvain_communities twin over the mm_edges slice."""
    body = _louvain_summary_parts(
        f"SELECT src, dst FROM mm_edges "
        f"WHERE src >= {lo} AND src < {hi} AND dst >= {lo} AND dst < {hi}",
        "l",
        max_sweeps,
    )
    body.append(
        """
    SELECT count(*) AS n_communities, max(sz) AS largest,
           round((SELECT q FROM lq), 4) AS modularity
    FROM lsizes
    """
    )
    return GRAPH_ORACLE_CTES + "".join(body)


_RELTYPE_TAGS = (("ld", "DEPENDS_ON"), ("lv", "DEV_DEPENDS_ON"), ("lp", "PEER_DEPENDS_ON"))


def _louvain_per_reltype_oracle(lo: int, hi: int, max_sweeps: int = 3) -> str:
    """Three unrolled Louvain runs — one per relationship type, the
    reference's exact methodology (it exported one
    louvain-community-detection CSV per rel type,
    /root/reference/analysis/) — UNION ALL'd into one summary table."""
    parts: list[str] = []
    selects: list[str] = []
    for tag, rel in _RELTYPE_TAGS:
        parts += _louvain_summary_parts(
            f"SELECT src, dst FROM edges WHERE rel_type = '{rel}' "
            f"AND src >= {lo} AND src < {hi} AND dst >= {lo} AND dst < {hi}",
            tag,
            max_sweeps,
        )
        selects.append(
            f"SELECT '{rel}' AS rel_type, count(*) AS n_communities, "
            f"max(sz) AS largest, round((SELECT q FROM {tag}q), 4) AS modularity "
            f"FROM {tag}sizes"
        )
    return (
        GRAPH_ORACLE_CTES
        + "".join(parts)
        + " UNION ALL ".join(selects)
        + " ORDER BY rel_type"
    )


# Mutual-reachability oracle over the cyclified module graph:
# reach uses UNION (distinct) recursion, so it terminates on cycles.
_SCC_ORACLE_BASE = (
    GRAPH_ORACLE_CTES
    + CYCLIC_EDGES_CTE
    + """
    , reach(a, b) AS (
        SELECT src, dst FROM cyclic_edges WHERE src <> dst
        UNION
        SELECT r.a, e.dst FROM reach r JOIN cyclic_edges e ON e.src = r.b
        WHERE e.src <> e.dst
    ),
    mutual AS (
        SELECT r1.a AS a, r1.b AS b
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    ),
    verts AS (
        SELECT DISTINCT v FROM (
            SELECT src AS v FROM cyclic_edges UNION ALL SELECT dst FROM cyclic_edges
        )
    ),
    comp AS (
        SELECT v.v AS id, least(v.v, coalesce(min(m.b), v.v)) AS component
        FROM verts v LEFT JOIN mutual m ON m.a = v.v
        GROUP BY v.v
    ),
    sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
"""
)


@register(
    "scc_summary",
    oracle=_SCC_ORACLE_BASE
    + """
    SELECT count(*) AS set_count, max(sz) AS max_set_size, min(sz) AS min_set_size
    FROM sizes
    """,
    description="SCC setCount/maxSetSize/minSetSize over the cyclified module "
    "graph — the reference's algo.scc result row, documentation/queries.md:130-135",
    tags=("graph", "algorithm", "iterative"),
)
def scc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ce = cyclic_module_edges(spark, sf_dir, mm=load_graph(spark, sf_dir).module_dep_edges())
    comp = strongly_connected_components(ce)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.count("*").alias("set_count"),
        F.max("sz").alias("max_set_size"),
        F.min("sz").alias("min_set_size"),
    )


@register(
    "scc_size_histogram",
    oracle=_SCC_ORACLE_BASE
    + """
    SELECT sz AS component_size, count(*) AS n_components
    FROM sizes GROUP BY sz ORDER BY sz
    """,
    description="SCC size histogram — the top-partition-sizes table of "
    "reference documentation/queries.md:137-167",
    tags=("graph", "algorithm", "iterative"),
)
def scc_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ce = cyclic_module_edges(spark, sf_dir, mm=load_graph(spark, sf_dir).module_dep_edges())
    comp = strongly_connected_components(ce)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count("*").alias("n_components"))
        .orderBy("component_size")
    )


@register(
    "connected_components_summary",
    oracle=GRAPH_ORACLE_CTES
    + """
    , sub AS (
        SELECT src, dst FROM mm_edges
        WHERE src >= 10002 AND src < 12002 AND dst >= 10002 AND dst < 12002
    ),
    sym AS (SELECT src, dst FROM sub UNION SELECT dst, src FROM sub),
    reach(a, b) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
    ),
    verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM sub UNION ALL SELECT dst FROM sub)),
    comp AS (
        SELECT v.v AS id, least(v.v, coalesce(min(r.b), v.v)) AS component
        FROM verts v LEFT JOIN reach r ON r.a = v.v
        GROUP BY v.v
    )
    SELECT count(*) AS n_components, CAST(sum(sz) AS BIGINT) AS n_vertices, max(sz) AS largest
    FROM (SELECT component, count(*) AS sz FROM comp GROUP BY component)
    """,
    description="Weakly-connected components over an induced module subgraph "
    "(forest slice): component count, vertex count, largest component",
    tags=("graph", "algorithm", "iterative"),
)
def connected_components_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = load_graph(spark, sf_dir).module_dep_edges()
    sub = mm.filter(
        (F.col("src") >= 10002) & (F.col("src") < 12002)
        & (F.col("dst") >= 10002) & (F.col("dst") < 12002)
    )
    comp = connected_components(sub)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return (
        sizes.agg(
            F.count("*").alias("n_components"),
            F.sum("sz").alias("n_vertices"),
            F.max("sz").alias("largest"),
        )
    )


@register(
    "pagerank_top20",
    oracle=_pagerank_oracle_sql(iterations=20, damping=0.85),
    description="PageRank (20 iters, d=0.85, OUTGOING) over the module "
    "DEPENDS_ON graph, top 20 — reference documentation/queries.md:177-190. "
    "Oracle = the power iteration unrolled as 20 chained DuckDB CTEs; "
    "also verified vs numpy in tests.",
    tags=("graph", "algorithm", "iterative"),
)
def pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    mm = g.module_dep_edges()
    # shuffle-mode ranks on the distributed path: at bench scale the
    # rank table is tiny and a per-iteration broadcast materialization
    # cost more than the narrow shuffle (measured 5.2s vs 3.8s at sf0.1)
    ranks = pagerank(mm, iterations=20, damping=0.85)
    names = g.vertices.select("id", "name")
    return (
        ranks.join(F.broadcast(names), "id")
        .select("id", "name", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


@register(
    "label_propagation_summary",
    oracle=_label_propagation_oracle_sql(iterations=8),
    description="Community detection via deterministic label propagation over "
    "the module graph (stand-in for reference Louvain, "
    "documentation/queries.md:82-98; deviation documented in SURVEY.md §7). "
    "Oracle = the synchronous sweep unrolled as 8 chained DuckDB CTEs; "
    "also verified on clique fixtures in tests.",
    tags=("graph", "algorithm", "iterative"),
)
def label_propagation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = load_graph(spark, sf_dir).module_dep_edges()
    comm = label_propagation(mm, iterations=8)
    sizes = comm.groupBy("community").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.count("*").alias("n_communities"),
        F.max("sz").alias("largest"),
        F.min("sz").alias("smallest"),
    )


@register(
    "louvain_communities",
    oracle=_louvain_oracle_sql(1002, 5002, max_sweeps=3),
    description="Real Louvain (phase-1 local moving + one aggregation "
    "level, modularity-optimizing) over the module DEPENDS_ON graph — "
    "reference algo.louvain.stream, documentation/queries.md:82-98. "
    "Oracle = the fixed-sweep schedule unrolled as ~80 chained DuckDB "
    "CTEs (portable md5 sweep parity; all aggregates exact in IEEE); "
    "community recovery and modularity floor also pinned in tests.",
    tags=("graph", "algorithm", "iterative"),
)
def louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    mm = g.module_dep_edges()
    # bounded slice keeps the per-round shuffle count flat across SFs;
    # full-graph runs are the same loop with more partitions
    sub = mm.filter(
        (F.col("src") >= 1002) & (F.col("src") < 5002)
        & (F.col("dst") >= 1002) & (F.col("dst") < 5002)
    )
    # Q=0.493 vs 0.499 at 4 sweeps, 4x faster; slice-sized loop state
    # -> narrow shuffle width (9.0s -> 7.0s at sf0.1). The symmetric
    # edge frame is pinned and counted ONCE and shared with modularity.
    sym = _symmetrize_weighted(sub)
    comm = louvain(sub, max_sweeps=3, levels=2, sym=sym)
    q = modularity(sub, comm, sym=sym)
    sizes = comm.groupBy("community").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.count("*").alias("n_communities"),
        F.max("sz").alias("largest"),
        F.round(F.lit(q), 4).alias("modularity"),
    )


@register(
    "louvain_per_reltype",
    oracle=_louvain_per_reltype_oracle(1002, 5002, max_sweeps=3),
    description="Louvain run separately per relationship type "
    "(DEPENDS_ON / DEV_DEPENDS_ON / PEER_DEPENDS_ON) — the reference's "
    "exact methodology: it exported one louvain-community-detection CSV "
    "per rel type (/root/reference/analysis/). Same bounded slice and "
    "sweep schedule as louvain_communities; oracle = three unrolled "
    "two-level Louvain pipelines UNION ALL'd.",
    tags=("graph", "algorithm", "iterative", "community"),
)
def louvain_per_reltype(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    g = load_graph(spark, sf_dir)
    outs = []
    for _tag, rel in _RELTYPE_TAGS:
        sub = (
            g.edges.filter(F.col("rel_type") == rel)
            .filter(
                (F.col("src") >= 1002) & (F.col("src") < 5002)
                & (F.col("dst") >= 1002) & (F.col("dst") < 5002)
            )
            .select("src", "dst")
        )
        sym = _symmetrize_weighted(sub)
        comm = louvain(sub, max_sweeps=3, levels=2, sym=sym)
        q = modularity(sub, comm, sym=sym)
        sizes = comm.groupBy("community").agg(F.count("*").alias("sz"))
        outs.append(
            sizes.agg(
                F.count("*").alias("n_communities"),
                F.max("sz").alias("largest"),
                F.round(F.lit(q), 4).alias("modularity"),
            ).select(F.lit(rel).alias("rel_type"), "n_communities", "largest", "modularity")
        )
    return reduce(lambda a, b: a.unionByName(b), outs).orderBy("rel_type")


# ---------------------------------------------------------------------------
# Remaining procedures of the graph-algorithms plugin the reference
# installs (bin/install_neo4j_plugins.sh:4-5 ships algo.similarity.*
# and algo.triangleCount alongside the PageRank/SCC/Louvain calls the
# query corpus exercises): neighbor-set Jaccard node similarity and
# triangle counting, both as pure DataFrame joins with exact oracles.
# ---------------------------------------------------------------------------

_NODE_SIM_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
, e AS (SELECT DISTINCT src, dst FROM mm_edges),
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
inter AS (
  SELECT a.src AS ma, b.src AS mb, count(*) AS n_shared
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
SELECT ma AS module_a, mb AS module_b, n_shared,
       round(n_shared * 1.0 / (da.d + db.d - n_shared), 6) AS jaccard
FROM inter
JOIN deg da ON da.src = ma
JOIN deg db ON db.src = mb
ORDER BY n_shared * 1.0 / (da.d + db.d - n_shared) DESC, ma, mb
LIMIT 25
"""
)


@register(
    "node_similarity_jaccard",
    oracle=_NODE_SIM_ORACLE,
    description="Neighbor-set Jaccard node similarity "
    "(algo.similarity.jaccard of the plugin set the reference installs, "
    "bin/install_neo4j_plugins.sh:4): module pairs scored by shared "
    "dependencies, top 25. Candidate pairs are generated by the "
    "inverted co-occurrence self-join (only pairs sharing >= 1 "
    "neighbor), never all-pairs; at scale a hub dst with in-degree d "
    "contributes d^2 candidates, so production runs cap or salt hub "
    "keys (the GDS degreeCutoff knob) — exact here, where the max "
    "in-degree is small.",
    tags=("graph", "algorithm", "similarity"),
)
def node_similarity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    # pin the distinct edge set and the node-sized degree rollup: the
    # degree legs (da/db) and both co-occurrence join sides otherwise
    # each re-ran the scan + distinct Exchange (4 edge scans + 4
    # distinct aggregate trees in the r12 audit, ReusedExchange 0 ->
    # 1 scan + 1 distinct + pinned re-reads; the triangle_counts_top /
    # degree_assortativity discipline)
    e = pin(g.module_dep_edges().distinct())
    deg = pin(
        e.groupBy("src")
        .agg(F.count("*").alias("d"))
    )
    from github_miner_spark.functions.skew import spread_width

    # spread the probe side across the session width before the
    # co-occurrence expansion: the edge scan is one parquet partition
    # at bench SF, and with the other side broadcast the whole
    # sum(indeg^2) pair blow-up (25M pairs at sf0.1, one 5k-indeg hub)
    # otherwise runs in a SINGLE task. Hash (dst, src) spreads the
    # hub's rows; at full scale AQE re-plans the join and its skew
    # split takes over, so the extra shuffle is edge-sized and cheap.
    a = e.repartition(spread_width(spark), "dst", "src").alias("a")
    b = e.alias("b")
    inter = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("ma"), F.col("b.src").alias("mb"))
        .agg(F.count("*").alias("n_shared"))
    )
    da = deg.select(F.col("src").alias("ma"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("mb"), F.col("d").alias("db"))
    jac = F.col("n_shared") / (F.col("da") + F.col("db") - F.col("n_shared"))
    return (
        inter.join(da, "ma")
        .join(db, "mb")
        .orderBy(jac.desc(), "ma", "mb")
        .limit(25)
        .select(
            F.col("ma").alias("module_a"),
            F.col("mb").alias("module_b"),
            "n_shared",
            F.round(jac, 6).alias("jaccard"),
        )
    )


_TRIANGLE_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
, und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM mm_edges WHERE src <> dst
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
per_node AS (
  SELECT node, count(*) AS n_triangles
  FROM (SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri)
  GROUP BY node
)
SELECT node AS module_id, n_triangles
FROM per_node
ORDER BY n_triangles DESC, node
LIMIT 20
"""
)


@register(
    "triangle_counts_top",
    oracle=_TRIANGLE_ORACLE,
    description="Per-node triangle counting (algo.triangleCount of the "
    "installed plugin set) on the undirected module dependency graph: "
    "canonical a<b<c edge-ordering enumerates each triangle exactly "
    "once via two self-joins — the compact-forward algorithm; the "
    "ordering also keeps the join frontier bounded by the smaller "
    "endpoint's adjacency, the standard trick that survives skew at "
    "scale. Top 20 modules by triangle count.",
    tags=("graph", "algorithm", "triangles"),
)
def triangle_counts_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    e = g.module_dep_edges().filter(F.col("src") != F.col("dst"))
    # pin the canonical undirected edge set: the triangle join reads it
    # three times (e1/e2/e3) and each alias re-ran the edge scan +
    # distinct Exchange (9 edge scans in the r12 audit -> 1 + pinned
    # re-reads)
    und = pin(
        e.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")).distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    # one explode over the 3-element vertex array instead of a 3-way
    # unionAll of tri re-derivations: the triangle join itself ran
    # three times under the old form (the union branches cannot share
    # the un-pinned subtree)
    nodes = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("module_id"), "n_triangles")
    )


_LINK_PRED_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
, e AS (SELECT DISTINCT src, dst FROM mm_edges),
indeg AS (SELECT dst AS z, count(*) AS dz FROM e GROUP BY dst),
outdeg AS (SELECT src AS m, count(*) AS dm FROM e GROUP BY src),
shared AS (
  SELECT a.src AS ma, b.src AS mb, a.dst AS z
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
),
scored AS (
  SELECT s.ma, s.mb,
         count(*) AS common_neighbors,
         sum(1.0 / ln(i.dz)) AS aa
  FROM shared s JOIN indeg i ON s.z = i.z
  GROUP BY s.ma, s.mb
)
SELECT sc.ma AS module_a, sc.mb AS module_b,
       sc.common_neighbors,
       round(sc.aa, 6) AS adamic_adar,
       (da.dm * db.dm)::BIGINT AS pref_attachment
FROM scored sc
JOIN outdeg da ON sc.ma = da.m
JOIN outdeg db ON sc.mb = db.m
ORDER BY adamic_adar DESC, module_a, module_b
LIMIT 25
"""
)


@register(
    "link_prediction_scores",
    oracle=_LINK_PRED_ORACLE,
    description="Link-prediction score panel (commonNeighbors / "
    "adamicAdar / preferentialAttachment of the plugin set the "
    "reference installs, bin/install_neo4j_plugins.sh:4; the reference "
    "itself calls preferentialAttachment, documentation/"
    "queries.md:100-118): candidate module pairs from the inverted "
    "co-occurrence self-join (only pairs sharing >= 1 dependency — "
    "never all-pairs), Adamic-Adar discounts each shared dependency by "
    "1/ln(indegree) so hub modules contribute little, exactly the "
    "skew-robustness that matters at scale. Top 25 pairs.",
    tags=("graph", "algorithm", "linkprediction"),
)
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    # pin the distinct edge set: its four consumers (in/out degree
    # rollups and both sides of the co-occurrence self-join) each
    # re-ran the edge scan + distinct Exchange (5 edge scans in the
    # r12 audit -> 1 + pinned re-reads)
    e = pin(g.module_dep_edges().distinct())
    indeg = e.groupBy(F.col("dst").alias("z")).agg(F.count("*").alias("dz"))
    outdeg = e.groupBy(F.col("src").alias("m")).agg(F.count("*").alias("dm"))
    from github_miner_spark.functions.skew import spread_width

    # spread the probe side of the co-occurrence self-join (see
    # node_similarity_jaccard: same single-task pair blow-up otherwise)
    a = e.repartition(spread_width(spark), "dst", "src").alias("a")
    b = e.alias("b")
    shared = a.join(
        b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src"))
    ).select(
        F.col("a.src").alias("ma"), F.col("b.src").alias("mb"), F.col("a.dst").alias("z")
    )
    scored = (
        shared.join(indeg, "z")
        .groupBy("ma", "mb")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log(F.col("dz"))).alias("aa"),
        )
    )
    da = outdeg.select(F.col("m").alias("ma"), F.col("dm").alias("da"))
    db = outdeg.select(F.col("m").alias("mb"), F.col("dm").alias("db"))
    return (
        scored.join(da, "ma")
        .join(db, "mb")
        .select(
            F.col("ma").alias("module_a"),
            F.col("mb").alias("module_b"),
            "common_neighbors",
            F.round("aa", 6).alias("adamic_adar"),
            (F.col("da") * F.col("db")).cast("long").alias("pref_attachment"),
        )
        .orderBy(F.desc("adamic_adar"), "module_a", "module_b")
        .limit(25)
    )


PPR_SOURCES = [2, 132]


def _personalized_pagerank_oracle_sql(
    sources: list[int], iterations: int = 20, damping: float = 0.85
) -> str:
    """Unrolled PERSONALIZED PageRank as chained DuckDB CTEs: the
    restart mass (1-d) concentrates uniformly on the source set
    (rank0 = p, base = (1-d)*p), mechanically generated like
    _pagerank_oracle_sql; literals via repr() so both engines start
    from identical IEEE-754 constants."""
    p0 = repr(1.0 / len(sources))
    c0 = repr((1.0 - damping) * (1.0 / len(sources)))
    d = repr(damping)
    ids = ", ".join(str(int(s)) for s in sources)
    parts = [
        f"""
    , prverts AS MATERIALIZED (
        SELECT DISTINCT v FROM (
            SELECT src AS v FROM mm_edges UNION ALL SELECT dst FROM mm_edges
        )
    ),
    pw AS MATERIALIZED (
        SELECT src, dst,
               CAST(1.0 AS DOUBLE) / (count(*) OVER (PARTITION BY src)) AS wt
        FROM mm_edges
    ),
    pr0 AS (
        SELECT v AS id,
               CASE WHEN v IN ({ids}) THEN CAST({p0} AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS rank
        FROM prverts
    )
    """
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""
    , pr{i} AS MATERIALIZED (
        SELECT p.v AS id,
               (CASE WHEN p.v IN ({ids}) THEN CAST({c0} AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END)
               + CAST({d} AS DOUBLE) * coalesce(c.msg, CAST(0.0 AS DOUBLE)) AS rank
        FROM prverts p LEFT JOIN (
            SELECT w.dst AS id, sum(q.rank * w.wt) AS msg
            FROM pr{i - 1} q JOIN pw w ON w.src = q.id GROUP BY w.dst
        ) c ON c.id = p.v
    )
    """
        )
    parts.append(
        f"""
    SELECT p.id AS id, v.name AS name, round(p.rank, 6) AS rank
    FROM pr{iterations} p JOIN vertices v ON v.id = p.id
    WHERE round(p.rank, 6) > 0
    ORDER BY round(p.rank, 6) DESC, p.id
    LIMIT 20
    """
    )
    return GRAPH_ORACLE_CTES + "".join(parts)


@register(
    "personalized_pagerank_top",
    oracle=_personalized_pagerank_oracle_sql(PPR_SOURCES, iterations=20, damping=0.85),
    description="Personalized PageRank (the plugin's sourceNodes variant): "
    "restart mass concentrated on two source modules, 20 iterations, "
    "d=0.85 — the relevance-to-these-seeds ranking used for "
    "recommendation-style queries. Same one-shuffle-per-iteration loop "
    "as pagerank_top20 (only the two vertex-local literals change); "
    "oracle = the personalized recurrence unrolled as 20 chained CTEs. "
    "Top 20 positive-mass modules.",
    tags=("graph", "algorithm", "iterative", "pagerank"),
)
def personalized_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    mm = g.module_dep_edges()
    ranks = pagerank(
        mm, iterations=20, damping=0.85, sources=PPR_SOURCES
    )
    names = g.vertices.select("id", "name")
    return (
        ranks.withColumn("rank", F.round("rank", 6))
        .filter(F.col("rank") > 0)
        .join(F.broadcast(names), "id")
        .select("id", "name", "rank")
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-core decomposition (algo.kcore of the installed plugin set,
# bin/install_neo4j_plugins.sh:4): core number per vertex of the
# undirected module graph, reported as a coreness histogram.
# ---------------------------------------------------------------------------

def _kcore_oracle_sql(rounds: int = 16) -> str:
    """Unrolled neighborhood-h-index iteration as chained DuckDB CTEs.

    Mirrors graph.algorithms.coreness exactly: c0 = degree, each round
    c(v) <- H({c(u)}) computed as max(least(core, row_number)) over the
    neighbor values sorted descending. The iteration is idempotent at
    its fixpoint (= the true core numbers, Lu et al. 2016), so a fixed
    unroll >= the convergence round count hash-matches the engine's
    run-to-fixpoint loop; measured convergence is 13 rounds at sf0.01
    (8 at sf0.001), so 16 carries margin and the extra rounds are
    no-ops."""
    parts = [
        """
, kund AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM mm_edges WHERE src <> dst
),
kadj AS MATERIALIZED (
  SELECT u AS id, v AS nb FROM kund UNION ALL SELECT v AS id, u AS nb FROM kund
),
kc0 AS MATERIALIZED (SELECT id, count(*) AS core FROM kadj GROUP BY id)
"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
, kc{i} AS MATERIALIZED (
  SELECT id, max(least(cn, rn)) AS core FROM (
    SELECT a.id AS id, c.core AS cn,
           row_number() OVER (PARTITION BY a.id ORDER BY c.core DESC) AS rn
    FROM kadj a JOIN kc{i - 1} c ON c.id = a.nb
  ) GROUP BY id
)"""
        )
    parts.append(
        f"""
SELECT core AS coreness, CAST(count(*) AS BIGINT) AS n_vertices
FROM kc{rounds} GROUP BY core ORDER BY core
"""
    )
    return GRAPH_ORACLE_CTES + "".join(parts)


@register(
    "k_core_decomposition",
    oracle=_kcore_oracle_sql(),
    description="k-core decomposition of the undirected module "
    "dependency graph (algo.kcore of the plugin set the reference "
    "installs): exact core number per vertex, reported as a coreness "
    "histogram. Engine side runs the neighborhood h-index fixpoint "
    "(one vertex-partitioned join + window + agg per round, state one "
    "row per vertex) with the Matula-Beck driver peel under the "
    "collect threshold — the same hybrid policy as SCC; the oracle "
    "unrolls the h-index rounds, exact because rounds past the "
    "fixpoint are no-ops.",
    tags=("graph", "algorithm", "kcore"),
)
def k_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    core = coreness(g.module_dep_edges())
    return (
        core.groupBy("core")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("core")
        .select(F.col("core").alias("coreness"), "n_vertices")
    )


# ---------------------------------------------------------------------------
# Topology statistics: clustering coefficient and degree assortativity —
# the summary statistics the reference's analysis notebook derives from
# its exported degree tables (analysis/notebook.md), computed here
# directly on the graph.
# ---------------------------------------------------------------------------

_CLUSTERING_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
, cund AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM mm_edges WHERE src <> dst
),
cadj AS (SELECT u AS id, v AS nb FROM cund UNION ALL SELECT v AS id, u AS nb FROM cund),
cdeg AS (SELECT id, count(*) AS d FROM cadj GROUP BY id),
ctri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM cund e1
  JOIN cund e2 ON e2.u = e1.v
  JOIN cund e3 ON e3.u = e1.u AND e3.v = e2.v
),
cpn AS (
  SELECT node, count(*) AS t
  FROM (SELECT a AS node FROM ctri UNION ALL SELECT b FROM ctri UNION ALL SELECT c FROM ctri)
  GROUP BY node
)
SELECT CAST((SELECT count(*) FROM ctri) AS BIGINT) AS n_triangles,
       CAST((SELECT sum(d * (d - 1) / 2) FROM cdeg) AS BIGINT) AS n_wedges,
       round(3.0 * (SELECT count(*) FROM ctri)
             / (SELECT sum(d * (d - 1) / 2) FROM cdeg), 6) AS global_transitivity,
       round((SELECT avg(coalesce(t.t, 0) * 2.0 / (g.d * (g.d - 1)))
              FROM cdeg g LEFT JOIN cpn t ON t.node = g.id
              WHERE g.d >= 2), 6) AS avg_local_clustering
"""
)


@register(
    "clustering_coefficient_summary",
    oracle=_CLUSTERING_ORACLE,
    description="Global transitivity (3*triangles/wedges) and average "
    "local clustering coefficient (2*tri_v/(d_v*(d_v-1)), averaged over "
    "vertices with degree >= 2) of the undirected module graph. Reuses "
    "the compact-forward triangle enumeration (a<b<c canonical "
    "ordering, two self-joins bounded by the smaller endpoint's "
    "adjacency) plus one degree aggregate — no new join shape beyond "
    "triangle_counts_top, so the same skew story holds at scale.",
    tags=("graph", "algorithm", "clustering"),
)
def clustering_coefficient_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    e = g.module_dep_edges().filter(F.col("src") != F.col("dst"))
    # pin the canonical undirected edge set: it feeds BOTH adjacency
    # branches and all three triangle-join aliases, and each consumer
    # re-ran the edge scan + distinct Exchange (16 edge scans in the
    # r12 audit -> 1 + pinned re-reads)
    und = pin(
        e.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")).distinct()
    )
    adj = und.select(F.col("u").alias("id"), F.col("v").alias("nb")).unionByName(
        und.select(F.col("v").alias("id"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("id").agg(F.count("*").alias("d"))
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    # one explode instead of a 3-way unionAll of tri re-derivations,
    # and the triangle TOTAL folds over the per-node rollup (each
    # triangle contributes exactly 3 node rows, so sum(t) = 3 * count
    # — exact integer division, the DSIR totals-fold discipline; the
    # old form ran the whole triangle join a second time for the
    # scalar count). Pinning deg/per_node as well measured WORSE
    # (0.92/0.85 vs 0.81 end-to-end medians at sf0.1) — once und is
    # pinned, re-deriving the node-sized rollups is cheaper than two
    # more checkpoint round-trips.
    per_node = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    # coalesce guards the triangle-free graph: sum over an empty
    # rollup is NULL where the old count(*) was 0
    totals = per_node.agg(
        F.coalesce(F.expr("sum(t) div 3"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles")
    )
    wedges = deg.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"))
    local = (
        deg.filter(F.col("d") >= 2)
        .join(per_node, deg.id == per_node.node, "left_outer")
        .select(
            (
                F.coalesce(F.col("t"), F.lit(0)) * 2.0 / (F.col("d") * (F.col("d") - 1))
            ).alias("c")
        )
        .agg(F.avg("c").alias("avg_local"))
    )
    return (
        totals.crossJoin(wedges)
        .crossJoin(local)
        .select(
            "n_triangles",
            "n_wedges",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "global_transitivity"
            ),
            F.round(F.col("avg_local"), 6).alias("avg_local_clustering"),
        )
    )


_ASSORTATIVITY_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
, aund AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM mm_edges WHERE src <> dst
),
aadj AS (SELECT u AS id, v AS nb FROM aund UNION ALL SELECT v AS id, u AS nb FROM aund),
adeg AS (SELECT id, count(*) AS d FROM aadj GROUP BY id),
pairs AS (
  SELECT CAST(du.d AS DOUBLE) AS x, CAST(dv.d AS DOUBLE) AS y
  FROM aadj e JOIN adeg du ON du.id = e.id JOIN adeg dv ON dv.id = e.nb
)
SELECT CAST(count(*) AS BIGINT) AS n_endpoint_pairs,
       round((avg(x * y) - avg(x) * avg(y))
             / (avg(x * x) - avg(x) * avg(x)), 6) AS assortativity
FROM pairs
"""
)


@register(
    "degree_assortativity",
    oracle=_ASSORTATIVITY_ORACLE,
    description="Degree assortativity of the undirected module graph: "
    "Newman's r = Pearson correlation of endpoint degrees over every "
    "oriented edge (each undirected edge contributes both directions, "
    "which symmetrizes the marginals so the x/y variances coincide). "
    "Two broadcast-able degree joins + one moment aggregate — no "
    "iteration, no shuffle beyond the degree groupBy.",
    tags=("graph", "algorithm", "assortativity"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = load_graph(spark, sf_dir)
    e = g.module_dep_edges().filter(F.col("src") != F.col("dst"))
    # pin the canonical undirected edge set (both adjacency branches
    # re-ran the edge scan + distinct, and adj itself is consumed by
    # the degree rollup AND the endpoint-pair join — 6 edge scans in
    # the r12 audit -> 1 + pinned re-reads) and the node-sized degree
    # rollup (consumed by both endpoint joins)
    und = pin(
        e.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")).distinct()
    )
    adj = und.select(F.col("u").alias("id"), F.col("v").alias("nb")).unionByName(
        und.select(F.col("v").alias("id"), F.col("u").alias("nb"))
    )
    deg = pin(adj.groupBy("id").agg(F.count("*").alias("d")))
    du = deg.select(F.col("id"), F.col("d").cast("double").alias("x"))
    dv = deg.select(F.col("id").alias("nb"), F.col("d").cast("double").alias("y"))
    pairs = adj.join(du, "id").join(dv, "nb")
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_endpoint_pairs"),
        F.round(
            (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
            / (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")),
            6,
        ).alias("assortativity"),
    )


# --- Closeness / betweenness centrality (algo.closeness /
# algo.betweenness in the reference's plugin set,
# bin/install_neo4j_plugins.sh:4) over the module DEPENDS_ON graph.
# Both use a FIXED SF-independent source sample (module ids < N map to
# p_partkey < N/10, a constant-size set at every scale factor), which
# is also the standard scale form for betweenness (Brandes/Pich 2007:
# exact per sampled source).

_CLOSENESS_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
    , roots AS (SELECT DISTINCT src FROM mm_edges WHERE src < 200),
    walk(root, node, depth) AS (
        SELECT e.src, e.dst, 1 FROM mm_edges e JOIN roots r ON e.src = r.src
        UNION ALL
        SELECT w.root, e.dst, w.depth + 1 FROM walk w JOIN mm_edges e ON e.src = w.node
    ),
    mind AS (SELECT root, node, min(depth) AS d FROM walk GROUP BY root, node)
    SELECT root AS module_id,
           CAST(count(*) AS BIGINT) AS reached,
           CAST(sum(d) AS BIGINT) AS depth_total,
           CAST(round(count(*) / CAST(sum(d) AS DOUBLE), 6) AS DOUBLE) AS closeness,
           CAST(round(sum(1.0 / d), 6) AS DOUBLE) AS harmonic
    FROM mind GROUP BY root ORDER BY module_id
    """
)


@register(
    "closeness_centrality_sample",
    oracle=_CLOSENESS_ORACLE,
    description="Out-closeness + harmonic centrality per sampled source "
    "module (algo.closeness of the reference's plugin set): one "
    "multi-root min-depth BFS (the closure family's loop, O(diameter) "
    "rounds, state one row per (root, node)) then a single groupBy — "
    "closeness = reached / sum(depth), harmonic = sum(1/depth). The "
    "root sample is SF-constant, so at 100 TB the per-level work stays "
    "|roots| * E with no all-pairs blow-up.",
    tags=("graph", "algorithm", "centrality", "iterative"),
)
def closeness_centrality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.graph.paths import bfs_depths

    g = load_graph(spark, sf_dir)
    mm = g.module_dep_edges()
    roots = sorted(
        r["src"]
        for r in mm.filter(F.col("src") < 200).select("src").distinct().collect()
    )
    depths = bfs_depths(mm, roots=roots, broadcast_frontier=True)
    return (
        depths.groupBy("root")
        .agg(
            F.count("*").cast("bigint").alias("reached"),
            F.sum("depth").cast("bigint").alias("depth_total"),
            F.round(
                F.count("*") / F.sum("depth").cast("double"), 6
            ).alias("closeness"),
            F.round(F.sum(F.lit(1.0) / F.col("depth")), 6).alias("harmonic"),
        )
        .select(
            F.col("root").alias("module_id"),
            "reached",
            "depth_total",
            "closeness",
            "harmonic",
        )
        .orderBy("module_id")
    )


_BETWEENNESS_ORACLE = (
    GRAPH_ORACLE_CTES
    + """
    , roots AS (SELECT DISTINCT src FROM mm_edges WHERE src < 400),
    walk(root, node, depth, path) AS (
        SELECT e.src, e.dst, 1, [e.src, e.dst] FROM mm_edges e JOIN roots r ON e.src = r.src
        UNION ALL
        SELECT w.root, e.dst, w.depth + 1, list_append(w.path, e.dst)
        FROM walk w JOIN mm_edges e ON e.src = w.node
    ),
    mind AS (SELECT root, node, min(depth) AS d FROM walk GROUP BY root, node),
    sp AS (
        SELECT w.root, w.node, w.path FROM walk w
        JOIN mind m ON m.root = w.root AND m.node = w.node AND m.d = w.depth
    ),
    sigma AS (SELECT root, node, count(*) AS s FROM sp GROUP BY root, node),
    thru AS (
        SELECT sp.root, sp.node AS t, u.v AS v, count(*) AS cnt
        FROM sp, UNNEST(list_slice(sp.path, 2, len(sp.path) - 1)) AS u(v)
        GROUP BY sp.root, sp.node, u.v
    )
    SELECT thru.v AS module_id,
           CAST(round(sum(CAST(thru.cnt AS DOUBLE) / sigma.s), 6) AS DOUBLE) AS betweenness
    FROM thru JOIN sigma ON sigma.root = thru.root AND sigma.node = thru.t
    GROUP BY thru.v
    ORDER BY module_id
    """
)


@register(
    "betweenness_centrality_sample",
    oracle=_BETWEENNESS_ORACLE,
    description="Source-sampled shortest-path betweenness "
    "(algo.betweenness of the reference's plugin set; Brandes/Pich "
    "2007 sampling): bc(v) = sum over sampled sources s and targets t "
    "of sigma_st(v)/sigma_st, v strictly interior. Engine side runs "
    "Brandes' two sweeps as level-synchronous DataFrame loops (forward "
    "sigma BFS, backward dependency accumulation over the "
    "shortest-path DAG), O(diameter) rounds, state one row per "
    "(root, node) — the oracle independently ENUMERATES every shortest "
    "path as a DuckDB recursive array CTE and counts interior "
    "appearances, so the two formulations cross-check each other.",
    tags=("graph", "algorithm", "centrality", "iterative"),
)
def betweenness_centrality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.graph.algorithms import betweenness_centrality

    g = load_graph(spark, sf_dir)
    mm = g.module_dep_edges()
    # SF-constant sample (src < 400): anchor-bounded driver list,
    # the same contract as the closure family's explicit root sets
    roots = [
        r["src"]
        for r in mm.filter(F.col("src") < 400).select("src").distinct().collect()
    ]
    # small-probe mode: the SF-constant sample keeps frontier/delta
    # frames broadcast-sized, the closure family's discipline
    bc = betweenness_centrality(mm, roots=sorted(roots), broadcast_frontier=True)
    return (
        bc.select(
            F.col("id").alias("module_id"),
            F.round("betweenness", 6).alias("betweenness"),
        )
        .orderBy("module_id")
    )

def _walks_oracle_ctes(steps: int = 4) -> str:
    """The unrolled deterministic-walk CTE chain (s0..s{steps}), shared
    by the walk-corpus oracle and the skip-gram-pairs oracle: one CTE
    per step, each picking the out-neighbor minimizing the 60-bit
    md5-derived score (the same portable hash the Spark side computes
    map-side)."""
    ctes = [
        """
    , s0 AS (
      SELECT start, seed, start AS cur, CAST(start AS VARCHAR) AS path,
             0 AS depth
      FROM (SELECT DISTINCT src AS start FROM mm_edges),
           (SELECT unnest([0, 1]) AS seed)
    )"""
    ]
    for i in range(1, steps + 1):
        ctes.append(f"""
    , s{i} AS (
      SELECT start, seed,
             CASE WHEN m IS NULL THEN cur ELSE m.d END AS cur,
             CASE WHEN m IS NULL THEN path
                  ELSE path || '->' || CAST(m.d AS VARCHAR) END AS path,
             depth + CASE WHEN m IS NULL THEN 0 ELSE 1 END AS depth
      FROM (
        SELECT s.start, s.seed, s.cur, s.path, s.depth,
               min(CASE WHEN e.dst IS NOT NULL THEN
                   {{'s': ('0x' || substr(md5(concat_ws('|', s.seed, {i},
                           s.start, e.dst)), 1, 15))::BIGINT,
                    'd': e.dst}} END) AS m
        FROM s{i - 1} s LEFT JOIN mm_edges e ON e.src = s.cur
        GROUP BY s.start, s.seed, s.cur, s.path, s.depth
      )
    )""")
    return "".join(ctes)


def _walks_oracle_sql(steps: int = 4) -> str:
    return (
        _walks_oracle_ctes(steps)
        + f"""
    SELECT start AS start_module, seed, depth, cur AS terminal, path
    FROM s{steps} ORDER BY start_module, seed
    """
    )


@register(
    "deterministic_random_walks",
    oracle=GRAPH_ORACLE_CTES + _walks_oracle_sql(),
    description="Node2vec-style walk-corpus generation over the module "
    "dependency graph: two fixed-length (4-step) walks from every "
    "module with out-edges, where each step follows the out-neighbor "
    "minimizing a 60-bit md5 score of (seed, step, walk-start, "
    "candidate) -- 'random' walks that are bit-reproducible across "
    "engines, runs and task retries, which is what a training "
    "pipeline actually wants from its embedding-prep corpus (GraphSAGE"
    "/DeepWalk sampling without a seed-distribution service). Walks "
    "that hit a sink stop and carry their reached depth. Scale shape: "
    "per-step state is ONE ROW per walk; the candidate expansion is a "
    "walk-state x edges equi-join on 8-byte keys whose edge-side "
    "exchange Spark reuses across all four steps, and the per-walk "
    "argmin is a map-side-combinable min(struct(score, dst)) -- no "
    "window, no sort, no driver state. Served from the materialized "
    "walk store (functions/walk_store.py, built once per source dir, "
    "content-addressed by graph inputs + walk-spec version). The "
    "oracle unrolls the four steps as chained CTEs with the identical "
    "hash and re-derives from spec, keeping grading store-independent.",
    tags=("graph", "algorithm", "walks", "embedding-prep"),
)
def deterministic_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _walk_corpus(spark, sf_dir).select(
        F.col("start").alias("start_module"),
        "seed",
        "depth",
        F.col("cur").alias("terminal"),
        "path",
    ).orderBy("start_module", "seed")


def _walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 4-step walk state (start, seed, cur, path,
    depth) — shared by the walk-corpus query and the skip-gram pair
    extraction. Served from the materialized walk store
    (functions/walk_store.py, VERDICT r7 item 3): the corpus is a
    pure function of (graph, scheme, seed), so deriving it is ETL
    paid once; the ORACLES keep re-deriving from spec so grading
    stays independent of the store."""
    from github_miner_spark.functions.walk_store import load_walks

    return load_walks(spark, sf_dir, "det")

def _node2vec_oracle_sql(steps: int = 4) -> str:
    """Unrolled second-order biased-walk oracle: per step, candidates
    draw a 56-bit uniform u and are picked by argmin of u * factor,
    where factor encodes node2vec's p/q bias (p=4, q=1/4 -> integer
    factors: return 16, distance-1 4, distance-2 1). Step 1 has no
    previous node and draws uniformly."""
    ctes = [
        """
    , n0 AS (
      SELECT start, seed, start AS prev, start AS cur,
             CAST(start AS VARCHAR) AS path, 0 AS depth
      FROM (SELECT DISTINCT src AS start FROM mm_edges),
           (SELECT unnest([0, 1]) AS seed)
    )"""
    ]
    for i in range(1, steps + 1):
        if i == 1:
            factor = "1"
            adj_join = ""
        else:
            factor = (
                "CASE WHEN e.dst = s.prev THEN 16 "
                "WHEN a.dst IS NOT NULL THEN 4 ELSE 1 END"
            )
            adj_join = (
                "LEFT JOIN mm_edges a ON a.src = s.prev AND a.dst = e.dst"
            )
        ctes.append(f"""
    , n{i} AS (
      SELECT start, seed,
             CASE WHEN m IS NULL THEN prev ELSE cur END AS prev,
             CASE WHEN m IS NULL THEN cur ELSE m.d END AS cur,
             CASE WHEN m IS NULL THEN path
                  ELSE path || '->' || CAST(m.d AS VARCHAR) END AS path,
             depth + CASE WHEN m IS NULL THEN 0 ELSE 1 END AS depth
      FROM (
        SELECT s.start, s.seed, s.prev, s.cur, s.path, s.depth,
               min(CASE WHEN e.dst IS NOT NULL THEN
                   {{'s': ('0x' || substr(md5(concat_ws('|', s.seed, {i},
                           s.start, e.dst)), 1, 14))::BIGINT * ({factor}),
                    'd': e.dst}} END) AS m
        FROM n{i - 1} s LEFT JOIN mm_edges e ON e.src = s.cur
        {adj_join}
        GROUP BY s.start, s.seed, s.prev, s.cur, s.path, s.depth
      )
    )""")
    tail = f"""
    SELECT start AS start_module, seed, depth, cur AS terminal, path
    FROM n{steps} ORDER BY start_module, seed
    """
    return "".join(ctes) + tail


@register(
    "node2vec_biased_walks",
    oracle=GRAPH_ORACLE_CTES + _node2vec_oracle_sql(),
    description="Second-order (node2vec, Grover & Leskovec 2016) "
    "biased walks over the module graph: like "
    "deterministic_random_walks but each step weights candidates by "
    "the p/q scheme (return parameter p=4 discourages backtracking, "
    "in-out q=1/4 encourages exploration) using distance from the "
    "PREVIOUS node -- return / distance-1 / distance-2 candidates "
    "carry integer factors 16/4/1 and the pick is argmin of a 56-bit "
    "md5 uniform times the factor, so lower-weight moves win "
    "proportionally less often while staying bit-reproducible across "
    "engines, runs and retries (weighted sampling without floats or "
    "a seed service; 56-bit x 16 stays inside BIGINT). The distance "
    "classification is one extra equi-join per step against the same "
    "reused edge exchange; state stays one row per walk and the "
    "argmin stays a map-side min(struct). Served from the "
    "materialized walk store (functions/walk_store.py). Oracle: four "
    "unrolled CTEs with the identical hash and factor algebra, "
    "re-derived from spec so grading stays store-independent.",
    tags=("graph", "algorithm", "walks", "embedding-prep"),
)
def node2vec_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.walk_store import load_walks

    state = load_walks(spark, sf_dir, "n2v")
    return state.select(
        F.col("start").alias("start_module"),
        "seed",
        "depth",
        F.col("cur").alias("terminal"),
        "path",
    ).orderBy("start_module", "seed")


def _skipgram_pairs_exploded(state: DataFrame) -> DataFrame:
    """(center, context, d): forward pairs within a 2-position window
    along each walk, generated by re-slicing each walk's own node
    array — ONE explode over the walk corpus, no join anywhere. The
    per-walk self-join form paid two exchanges of the exploded
    position relation plus the join itself to recover pairs that are
    adjacency inside a single row's array; d = ib - ia ∈ {1, 2} falls
    out of the slice offset."""
    arr = F.split(F.col("path"), "->")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.lit(2)),
                lambda y, j: F.struct(
                    x.cast("bigint").alias("center"),
                    y.cast("bigint").alias("context"),
                    (j + F.lit(1)).alias("d"),
                ),
            ),
        )
    )
    return state.select(F.explode(pairs).alias("p")).select(
        "p.center", "p.context", "p.d"
    )


@register(
    "walk_skipgram_pairs",
    oracle=GRAPH_ORACLE_CTES
    + _walks_oracle_ctes()
    + """
    , wk AS (
      SELECT seed, str_split(path, '->') AS nodes FROM s4
    ),
    pairs AS (
      SELECT CAST(nodes[i] AS BIGINT) AS center,
             CAST(nodes[i + d] AS BIGINT) AS context,
             d
      FROM wk,
           generate_series(1, 5) AS g(i),
           (SELECT unnest([1, 2]) AS d) AS w
      WHERE i + d <= len(nodes)
    )
    SELECT center, context,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(1.0 / d), 6) AS w
    FROM pairs
    GROUP BY center, context
    ORDER BY center, context
    """,
    description="Skip-gram training-pair extraction from the "
    "deterministic walk corpus — the step that turns "
    "deterministic_random_walks into word2vec-style (center, context) "
    "examples for graph-embedding training (DeepWalk/node2vec phase "
    "2): forward pairs within a 2-position window along each walk, "
    "rolled up to (center, context) with the raw pair count and the "
    "standard 1/distance position weight. Pair generation re-slices "
    "each walk's own node array in ONE explode (a pair is adjacency "
    "within a single row — no join, no exchange needed to form it), "
    "and the rollup is a map-side-combinable hashed "
    "aggregation over pair keys, so at 100 TB this is walk-corpus "
    "linear with no driver state. The oracle reuses the walk CTEs "
    "verbatim and expands positions arithmetically, so a walk-step "
    "change re-grades both queries together.",
    tags=("graph", "walks", "embedding-prep", "skipgram"),
)
def walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _walk_corpus(spark, sf_dir)
    pairs = _skipgram_pairs_exploded(state)
    return (
        pairs.groupBy("center", "context")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.sum(1.0 / F.col("d")), 6).alias("w"),
        )
        .orderBy("center", "context")
    )


@register(
    "skipgram_negative_samples",
    oracle=GRAPH_ORACLE_CTES
    + _walks_oracle_ctes()
    + """
    , wk AS (SELECT seed, str_split(path, '->') AS nodes FROM s4),
    pairs AS (
      SELECT CAST(nodes[i] AS BIGINT) AS center,
             CAST(nodes[i + d] AS BIGINT) AS context, d
      FROM wk, generate_series(1, 5) AS g(i), (SELECT unnest([1, 2]) AS d) AS w
      WHERE i + d <= len(nodes)
    ),
    sgp AS (SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY center, context),
    dist AS (SELECT context AS negative, CAST(sum(n_pairs) AS BIGINT) AS cnt
             FROM sgp GROUP BY context),
    cum AS (SELECT negative, cnt,
                   CAST(sum(cnt) OVER (ORDER BY negative
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS hi
            FROM dist),
    cum2 AS (SELECT negative, cnt, hi, hi - cnt AS lo FROM cum),
    scal AS (SELECT CAST(sum(cnt) AS BIGINT) AS t,
                    greatest(1, CAST(sum(cnt) AS BIGINT) // count(*)) AS w
             FROM dist),
    buckets AS (
      SELECT unnest(generate_series(c.lo // scal.w, (c.hi - 1) // scal.w))
               AS bucket,
             c.negative, c.lo, c.hi
      FROM cum2 c, scal
    ),
    draws AS (
      SELECT center, context, d AS neg_rank,
             ('0x' || substr(md5(concat_ws('|', 'neg', center, context, d)),
                             1, 14))::BIGINT % scal.t AS u
      FROM sgp, (SELECT unnest([1, 2]) AS d), scal
    )
    SELECT d.center, d.context, d.neg_rank, b.negative
    FROM draws d, scal
    JOIN buckets b ON b.bucket = d.u // scal.w AND d.u >= b.lo AND d.u < b.hi
    ORDER BY center, context, neg_rank
    """,
    description="Deterministic negative sampling for skip-gram "
    "training (word2vec's unigram-table draw, Mikolov et al. 2013) — "
    "the third rung of the embedding-prep family after walks and "
    "pairs: for every (center, context) training pair, draw 2 "
    "negatives from the corpus context distribution by inverse-CDF "
    "over cumulative count intervals, with the draw a 56-bit md5 "
    "uniform mod total (bit-reproducible across engines, runs and "
    "retries — no seed service; plain unigram weights keep the CDF "
    "pure-integer, documented simplification of the ^0.75 variant "
    "whose float pow would put an engine-dependent rounding boundary "
    "under every interval edge). The interval lookup is BUCKETIZED so "
    "it is an EQUI-join, never a nested-loop range join: intervals "
    "expand to the ~2x-vocab (bucket, interval) rows they overlap "
    "(bucket width = total DIV vocab), draws map to one bucket each, "
    "and a broadcast hash join + residual range filter resolves the "
    "containment — at 100 TB the vocab-bounded bucket table "
    "broadcasts while draws stay map-side, the alias-table analog in "
    "relational form. The cumulative window is one vocab-sized sort, "
    "never corpus-sized. Oracle: identical integer algebra over the "
    "reused walk CTEs.",
    tags=("graph", "walks", "embedding-prep", "skipgram", "sampling"),
)
def skipgram_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import md5_prefix_hash

    state = _walk_corpus(spark, sf_dir)
    # join-free pair generation: the same in-array slice explode the
    # pair-extraction query uses (_skipgram_pairs_exploded). The
    # pair-vocabulary rollup is PINNED: its two consumers (the
    # negative distribution and the draw generator) each re-ran the
    # walk-store scan + explode + rollup (4 walks_det scans in the
    # r12 audit -> 1 + pinned re-reads).
    sgp = pin(
        _skipgram_pairs_exploded(state)
        .groupBy("center", "context")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )
    dist = sgp.groupBy(F.col("context").alias("negative")).agg(
        F.sum("n_pairs").cast("bigint").alias("cnt")
    )
    # single-partition window, bounded: `dist` is one row per DISTINCT
    # context node (graph-vocabulary-sized, never pair- or walk-sized);
    # at open-domain 100 TB vocab the same cumulative bounds come from
    # repartitionByRange + per-shard offsets (corpus_zipf_fit's
    # distributed-rank pattern)
    wcum = Window.orderBy("negative").rowsBetween(Window.unboundedPreceding, 0)
    cum2 = dist.select(
        "negative", "cnt", F.sum("cnt").over(wcum).cast("bigint").alias("hi")
    ).withColumn("lo", F.col("hi") - F.col("cnt"))
    scal = dist.agg(
        F.sum("cnt").cast("bigint").alias("t"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("CAST(sum(cnt) AS BIGINT) DIV count(*)"),
        ).alias("w"),
    )
    buckets = cum2.crossJoin(F.broadcast(scal)).select(
        "negative",
        "lo",
        "hi",
        F.explode(
            F.sequence(F.expr("lo DIV w"), F.expr("(hi - 1) DIV w"))
        ).alias("bucket"),
    )
    draws = (
        sgp.select(
            "center",
            "context",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("neg_rank"),
        )
        .crossJoin(F.broadcast(scal))
        .withColumn(
            "u",
            md5_prefix_hash(
                F.concat_ws(
                    "|",
                    F.lit("neg"),
                    F.col("center"),
                    F.col("context"),
                    F.col("neg_rank"),
                ),
                14,
            )
            % F.col("t"),
        )
        .withColumn("bucket", F.expr("u DIV w"))
    )
    return (
        draws.join(
            F.broadcast(buckets.select("bucket", "negative", "lo", "hi")),
            "bucket",
        )
        .filter((F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
        .select("center", "context", "neg_rank", "negative")
        .orderBy("center", "context", "neg_rank")
    )


def _anf_distributed_reg_states(
    spark: SparkSession,
    e: DataFrame,
    m_bits: int,
    hops: int,
    rho_max: int,
    n_edges: int,
) -> DataFrame:
    """The at-scale HyperANF propagation loop, shared by the
    per-anchor neighborhood-function query and the whole-graph
    effective-diameter readout: sparse (node, bucket, r) register
    state, each hop ONE union + keyed max-merge shuffle, eagerly
    checkpointed per hop (state feeds BOTH the union and the next
    hop's edge-pull — the double reference that makes lazy chaining
    exponential; lazy 3-hop chaining measured 3.9s vs 1.3s). Returns
    the union of the per-hop states tagged with h."""
    from github_miner_spark.functions.text import token_hash60
    from github_miner_spark.graph.paths import (
        _adaptive_loop_width,
        _loop_shuffle_partitions,
    )

    m = 1 << m_bits
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h0 = token_hash60(F.concat_ws("|", F.lit("anf"), F.col("node")))
    w = F.shiftright(h0, m_bits)
    rho = F.when(w == F.lit(0), F.lit(rho_max)).otherwise(
        F.lit(rho_max) - F.length(F.bin(w))
    )
    per_h = []
    # register state is nodes x m rows at most — size the hop loop's
    # shuffle from it (the shared adaptive-width discipline; at
    # 100 TB the width comes back automatically)
    loop_width = _adaptive_loop_width(spark, n_edges * m)
    with _loop_shuffle_partitions(
        spark, enabled=True, width=loop_width, aqe_off=True
    ):
        state = pin(
            nodes.select("node", h0.bitwiseAND(F.lit(m - 1)).alias("bucket"), rho.alias("r")),
            eager=True,
        )
        for h in range(1, hops + 1):
            pulled = e.join(state, state.node == e.dst).select(
                F.col("src").alias("node"), "bucket", "r"
            )
            state = pin(
                state.unionByName(pulled)
                .groupBy("node", "bucket")
                .agg(F.max("r").alias("r")),
                eager=True,
            )
            per_h.append(state.withColumn("h", F.lit(h)))
    reg_states = per_h[0]
    for p_ in per_h[1:]:
        reg_states = reg_states.unionByName(p_)
    return reg_states


def _anf_oracle_sql(m_bits: int = 5, hops: int = 3, anchor_max: int = 120) -> str:
    """Unrolled HyperANF oracle: identical register algebra to the
    engine (md5-derived 60-bit hash, low m_bits as bucket, leading-
    zero rank as register, per-hop max-merge over out-edges), plus
    the EXACT h-hop reachable counts for the anchor set via a
    depth-bounded recursive CTE — the grading side."""
    from github_miner_spark.functions.text import hll_alpha_sql, hll_estimate_case_sql

    m = 1 << m_bits
    rho_max = 60 - m_bits + 1
    alpha = hll_alpha_sql(m)
    parts = [f"""
    , anodes AS (SELECT DISTINCT src AS node FROM mm_edges WHERE src < {anchor_max}),
    allnodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM mm_edges
        UNION ALL SELECT dst AS node FROM mm_edges
      )
    ),
    h0 AS (
      SELECT node,
             ('0x' || substr(md5(concat_ws('|', 'anf', node)), 1, 15))::BIGINT AS h
      FROM allnodes
    ),
    p0 AS MATERIALIZED (
      SELECT node, h & {m - 1} AS bucket,
             CASE WHEN (h >> {m_bits}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h >> {m_bits})) END AS r
      FROM h0
    )"""]
    for k in range(1, hops + 1):
        parts.append(f"""
    , p{k} AS MATERIALIZED (
      SELECT node, bucket, max(r) AS r FROM (
        SELECT node, bucket, r FROM p{k - 1}
        UNION ALL
        SELECT e.src AS node, s.bucket, s.r
        FROM mm_edges e JOIN p{k - 1} s ON s.node = e.dst
      ) GROUP BY node, bucket
    )""")
    sums = " UNION ALL ".join(
        f"""SELECT {k} AS h, p.node,
             CAST(count(*) AS BIGINT) AS buckets_used,
             CAST(sum(1::BIGINT << CAST({rho_max} - p.r AS INTEGER)) AS BIGINT) AS s_int
           FROM p{k} p JOIN anodes a ON a.node = p.node GROUP BY p.node"""
        for k in range(1, hops + 1)
    )
    exacts = " UNION ALL ".join(
        f"SELECT {k} AS h, root, 1 + CAST(count(*) FILTER (WHERE d <= {k}) AS BIGINT)"
        f" AS exact_reached FROM mind GROUP BY root"
        for k in range(1, hops + 1)
    )
    parts.append(f"""
    , sums AS ({sums}),
    awalk(root, node, depth) AS (
      SELECT e.src, e.dst, 1 FROM mm_edges e JOIN anodes a ON a.node = e.src
      UNION ALL
      SELECT w.root, e.dst, w.depth + 1
      FROM awalk w JOIN mm_edges e ON e.src = w.node
      WHERE w.depth < {hops}
    ),
    mind AS (SELECT root, node, min(depth) AS d FROM awalk GROUP BY root, node),
    exact AS ({exacts}),
    est AS (
      SELECT s.h, s.node, s.buckets_used, x.exact_reached,
             {alpha} * {m}.0 * {m}.0
               / (CAST(s.s_int AS DOUBLE) / power(2.0, {rho_max})
                  + CAST({m} - s.buckets_used AS DOUBLE)) AS e_raw
      FROM sums s JOIN exact x ON x.root = s.node AND x.h = s.h
    ),
    fin AS (
      SELECT h, node, exact_reached, buckets_used,
             {hll_estimate_case_sql(m)} AS estimate
      FROM est
    )
    SELECT node AS module_id, h, exact_reached, buckets_used,
           round(estimate, 6) AS anf_estimate,
           round(abs(estimate - exact_reached) / exact_reached, 6) AS rel_error
    FROM fin ORDER BY module_id, h
    """)
    return GRAPH_ORACLE_CTES + "".join(parts)


def _anf_kernel_factory(
    m_bits: int,
    hops: int,
    rho_max: int,
    keep: frozenset[int] | None = None,
    emit_sums: bool = False,
):
    """Build the applyInPandas kernel for task-local ANF: the edge
    list arrives as one group and the whole hop loop runs inside the
    executor task with the IDENTICAL integer register algebra (md5
    15-hex-prefix hash == token_hash60; bit_length == length(bin));
    emits the per-hop sparse register state (h, node, bucket, r).
    ``keep`` (the anchor id set) filters AT EMIT time: the propagation
    runs over the whole graph, but only the anchors' rows leave the
    task — without it a multi-million-node graph would Arrow-serialize
    nodes x m x hops rows out of one task only for the downstream
    anchor join to discard all but ~1k (round-8 review finding).
    ``emit_sums`` is the whole-graph emit shape for the SAME concern:
    the effective-diameter readout needs every node, so the kernel
    reduces registers to per-(h, node) exact-integer sums
    (buckets_used, s_int) INSIDE the task and Arrow-serializes
    nodes x hops rows, never nodes x m x hops."""

    def _kernel(pdf):
        import hashlib

        import numpy as np
        import pandas as pd

        m = 1 << m_bits
        src = pdf["src"].to_numpy(dtype=np.int64)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        nodes = np.unique(np.concatenate([src, dst]))
        idx = {int(v): i for i, v in enumerate(nodes)}
        si = np.fromiter((idx[int(v)] for v in src), np.int64, len(src))
        di = np.fromiter((idx[int(v)] for v in dst), np.int64, len(dst))
        # dense (n_nodes, m) int16 register matrix, -1 = empty bucket
        regs = np.full((len(nodes), m), -1, dtype=np.int16)
        for i, v in enumerate(nodes):
            h0 = int(hashlib.md5(f"anf|{int(v)}".encode()).hexdigest()[:15], 16)
            w = h0 >> m_bits
            rho = rho_max if w == 0 else rho_max - w.bit_length()
            regs[i, h0 & (m - 1)] = rho
        # nodes and keep are fixed across hops: resolve the anchor rows
        # to ROW INDICES once, outside the loop — the per-hop work is
        # then a |anchors| x m slice, never an np.isin over all nodes
        # or a full register-matrix copy per hop
        emit_rows = (
            np.nonzero(
                np.isin(nodes, np.fromiter(keep, np.int64, len(keep)))
            )[0]
            if keep is not None
            else None
        )
        frames = []
        for h in range(1, hops + 1):
            nxt = regs.copy()
            # vectorized max-merge: every (src, dst) edge pulls dst's
            # whole register row into src's, one ufunc pass per hop
            np.maximum.at(nxt, si, regs[di])
            regs = nxt
            if emit_sums:
                used = regs >= 0
                r64 = regs.astype(np.int64)
                s_int = np.where(
                    used, np.int64(1) << (rho_max - r64), np.int64(0)
                ).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "h": np.full(len(nodes), h, dtype=np.int32),
                            "node": nodes,
                            "buckets_used": used.sum(axis=1).astype(np.int64),
                            "s_int": s_int,
                        }
                    )
                )
                continue
            if emit_rows is not None:
                sub = regs[emit_rows]
                ri, bi = np.nonzero(sub >= 0)
                ni = emit_rows[ri]
            else:
                ni, bi = np.nonzero(regs >= 0)
            frames.append(
                pd.DataFrame(
                    {
                        "h": np.full(len(ni), h, dtype=np.int32),
                        "node": nodes[ni],
                        "bucket": bi.astype(np.int32),
                        "r": regs[ni, bi].astype(np.int32),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return _kernel



@register(
    "anf_neighborhood_function",
    oracle=_anf_oracle_sql(),
    description="Approximate neighborhood function (HyperANF, Boldi/"
    "Rosa/Vigna 2011 — the algorithm behind the 'four degrees of "
    "separation' measurements): per-node HyperLogLog registers over "
    "the h-hop reachable set, propagated 3 hops by per-hop max-merge "
    "over out-edges — the at-scale way to measure neighborhood growth "
    "and effective diameter, since exact all-pairs reachability is "
    "infeasible at any real graph size. Registers (m=32, the same "
    "md5-derived bit-exact algebra as the HLL sketch family) live as "
    "sparse (node, bucket, r) rows; each hop is ONE union + keyed "
    "max-merge shuffle over state bounded by nodes x m rows, "
    "checkpointed per hop (the state is referenced twice per hop — "
    "union and edge-pull — so lazy chaining would re-evaluate "
    "exponentially). Estimates are graded IN-QUERY against the exact "
    "h-hop reachable counts for an SF-constant anchor set (the "
    "sketch-family contract: exact side exists only to grade; the "
    "propagation itself runs over the WHOLE graph). Integer register "
    "sums keep both engines bit-identical; the oracle unrolls the "
    "three max-merge hops as MATERIALIZED CTEs and re-derives exact "
    "counts via a depth-bounded recursive walk.",
    tags=("graph", "sketch", "approx", "iterative", "algorithm"),
)
def anf_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    m_bits, hops, anchor_max = 5, 3, 120
    m = 1 << m_bits
    rho_max = 60 - m_bits + 1
    g = load_graph(spark, sf_dir)
    e, n_edges = pin_counted(g.module_dep_edges().select("src", "dst"))
    # anchors come from the anchored-reachability rollup's parquet
    # files (driver-side pyarrow read, no Spark job — r13): the
    # rollup's node set IS the distinct src < anchor_max set this
    # query used to re-collect from the edge relation every run, and
    # the grading join below loads the same rollup anyway
    from github_miner_spark.functions.graph_stats_store import anchor_nodes

    anchors = anchor_nodes(spark, sf_dir)
    assert anchor_max == 120  # the rollup's ANF_ANCHOR_MAX — one spec
    anchor_df = spark.createDataFrame([(a,) for a in anchors], "node bigint")
    if choose_path("anf", n_edges) == "task":
        # task-local path (the SCC/betweenness pattern): the whole
        # 3-hop propagation runs inside ONE applyInPandas task with
        # the identical integer algebra — 1 job instead of 4
        # checkpoint barriers; beyond the gate the distributed loop
        # below is the at-scale path
        reg_states = (
            e.withColumn("g", F.lit(1))
            .groupBy("g")
            .applyInPandas(
                _anf_kernel_factory(
                    m_bits, hops, rho_max, keep=frozenset(anchors)
                ),
                schema="h int, node bigint, bucket int, r int",
            )
        )
    else:
        reg_states = _anf_distributed_reg_states(
            spark, e, m_bits, hops, rho_max, n_edges
        )
    sums = (
        reg_states.join(F.broadcast(anchor_df), "node")
        .groupBy("node", "h")
        .agg(
            F.count("*").cast("bigint").alias("buckets_used"),
            F.sum(
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast({rho_max} - r as int))"
                )
            ).alias("s_int"),
        )
    )
    # exact grading side: the anchored-reachability rollup is a graph
    # constant (reached(h) = 1 + |{min depth <= h}| per anchor) served
    # from the materialized store — the same corpus-constant move as
    # the KMV exact side (functions/graph_stats_store.py; the inline
    # anchored BFS + 3-way union was the largest slice of this watch
    # entry). The oracle re-derives the exact counts from spec via the
    # depth-bounded recursive CTE, so a stale rollup hash-mismatches.
    from github_miner_spark.functions.graph_stats_store import (
        load_anchor_reach,
    )

    exact = load_anchor_reach(spark, sf_dir)
    from github_miner_spark.functions.text import hll_estimate_expr

    est = sums.join(exact, ["node", "h"])
    estimate = hll_estimate_expr(m, rho_max, F.col("s_int"), F.col("buckets_used"))
    return (
        est.select(
            F.col("node").alias("module_id"),
            "h",
            "exact_reached",
            "buckets_used",
            F.round(estimate, 6).alias("anf_estimate"),
            F.round(
                F.abs(estimate - F.col("exact_reached").cast("double"))
                / F.col("exact_reached").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("module_id", "h")
    )


def _anf_diameter_oracle_sql(m_bits: int = 5, hops: int = 3) -> str:
    """Whole-graph HyperANF readout oracle: the identical register
    chain as _anf_oracle_sql, reduced to per-(h, node) exact-integer
    sums over ALL nodes, per-node estimates quantized to BIGINTs
    before the global sum (a float sum over nodes would be
    accumulation-order-sensitive), and the effective-diameter pick as
    pure integer algebra (10 * nf_q(h) >= 9 * nf_q(hmax))."""
    from github_miner_spark.functions.text import hll_alpha_sql, hll_estimate_case_sql

    m = 1 << m_bits
    rho_max = 60 - m_bits + 1
    alpha = hll_alpha_sql(m)
    parts = [f"""
    , allnodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM mm_edges
        UNION ALL SELECT dst AS node FROM mm_edges
      )
    ),
    h0 AS (
      SELECT node,
             ('0x' || substr(md5(concat_ws('|', 'anf', node)), 1, 15))::BIGINT AS h
      FROM allnodes
    ),
    p0 AS MATERIALIZED (
      SELECT node, h & {m - 1} AS bucket,
             CASE WHEN (h >> {m_bits}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h >> {m_bits})) END AS r
      FROM h0
    )"""]
    for k in range(1, hops + 1):
        parts.append(f"""
    , p{k} AS MATERIALIZED (
      SELECT node, bucket, max(r) AS r FROM (
        SELECT node, bucket, r FROM p{k - 1}
        UNION ALL
        SELECT e.src AS node, s.bucket, s.r
        FROM mm_edges e JOIN p{k - 1} s ON s.node = e.dst
      ) GROUP BY node, bucket
    )""")
    sums = " UNION ALL ".join(
        f"""SELECT {k} AS h, node,
             CAST(count(*) AS BIGINT) AS buckets_used,
             CAST(sum(1::BIGINT << CAST({rho_max} - r AS INTEGER)) AS BIGINT) AS s_int
           FROM p{k} GROUP BY node"""
        for k in range(1, hops + 1)
    )
    parts.append(f"""
    , sums AS ({sums}),
    est AS (
      SELECT h, node, buckets_used,
             {alpha} * {m}.0 * {m}.0
               / (CAST(s_int AS DOUBLE) / power(2.0, {rho_max})
                  + CAST({m} - buckets_used AS DOUBLE)) AS e_raw
      FROM sums
    ),
    fin AS (
      SELECT h,
             CAST(round({hll_estimate_case_sql(m)} * 1000000, 0) AS BIGINT)
               AS eq
      FROM est
    ),
    tot AS (
      SELECT h, CAST(sum(eq) AS BIGINT) AS nf_q FROM fin GROUP BY h
    ),
    mx AS (SELECT max(nf_q) AS mq FROM tot),
    eff AS (
      SELECT min(h) AS eff_h FROM tot, mx WHERE 10 * nf_q >= 9 * mq
    )
    SELECT t.h, round(t.nf_q / 1000000.0, 6) AS nf_estimate,
           round(CAST(t.nf_q AS DOUBLE) / CAST(m2.mq AS DOUBLE), 6)
             AS frac_of_hmax,
           t.h = (SELECT eff_h FROM eff) AS is_effective_diameter
    FROM tot t, mx m2 ORDER BY t.h
    """)
    return GRAPH_ORACLE_CTES + "".join(parts)


@register(
    "anf_effective_diameter",
    oracle=_anf_diameter_oracle_sql(),
    description="Effective diameter via HyperANF — the headline "
    "statistic the algorithm exists to compute (Boldi/Rosa/Vigna "
    "2011; the 'four degrees of separation' number): the whole-graph "
    "neighborhood function N(h) = sum over ALL nodes of the "
    "HLL-estimated h-hop ball size, and the smallest h with N(h) >= "
    "0.9 * N(hmax). Shares anf_neighborhood_function's register "
    "propagation verbatim (same hash, same max-merge, same estimator "
    "expression — that query also grades the registers per-anchor "
    "against exact reachability, so this readout rides on a graded "
    "sketch); per-node estimates quantize to BIGINTs BEFORE the "
    "global sum, so the cross-engine total and the diameter pick are "
    "exact integer algebra. Scale shape: under the task threshold the "
    "kernel reduces registers to per-(h, node) integer sums INSIDE "
    "the executor task and Arrow-serializes nodes x hops rows (never "
    "nodes x m x hops); beyond it the shared distributed max-merge "
    "loop runs with per-hop checkpoints and the readout is one "
    "hops-bounded rollup.",
    tags=("graph", "sketch", "approx", "iterative", "algorithm"),
)
def anf_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import hll_estimate_expr

    m_bits, hops = 5, 3
    m = 1 << m_bits
    rho_max = 60 - m_bits + 1
    g = load_graph(spark, sf_dir)
    e, n_edges = pin_counted(g.module_dep_edges().select("src", "dst"))
    if choose_path("anf", n_edges) == "task":
        sums = (
            e.withColumn("g", F.lit(1))
            .groupBy("g")
            .applyInPandas(
                _anf_kernel_factory(m_bits, hops, rho_max, emit_sums=True),
                schema="h int, node bigint, buckets_used long, s_int long",
            )
        )
    else:
        reg_states = _anf_distributed_reg_states(
            spark, e, m_bits, hops, rho_max, n_edges
        )
        sums = reg_states.groupBy("node", "h").agg(
            F.count("*").cast("bigint").alias("buckets_used"),
            F.sum(
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast({rho_max} - r as int))"
                )
            ).alias("s_int"),
        )
    estimate = hll_estimate_expr(
        m, rho_max, F.col("s_int"), F.col("buckets_used")
    )
    tot = (
        sums.select(
            "h", F.round(estimate * 1_000_000, 0).cast("bigint").alias("eq")
        )
        .groupBy("h")
        .agg(F.sum("eq").cast("bigint").alias("nf_q"))
    )
    # hops-bounded frame (3 rows): the single-partition windows below
    # never see more than `hops` rows
    w_all = Window.partitionBy()
    mq = F.max("nf_q").over(w_all)
    eff_h = F.min(
        F.when(F.lit(10) * F.col("nf_q") >= F.lit(9) * mq, F.col("h"))
    ).over(w_all)
    return (
        tot.select(
            "h",
            F.round(F.col("nf_q") / F.lit(1_000_000.0), 6).alias(
                "nf_estimate"
            ),
            F.round(
                F.col("nf_q").cast("double") / mq.cast("double"), 6
            ).alias("frac_of_hmax"),
            (F.col("h") == eff_h).alias("is_effective_diameter"),
        )
        .orderBy("h")
    )
