"""Property-graph model: (vertices DF, edges DF) pair, GraphFrames-style.

The reference materializes ONE graph schema (README.md:60-62 of the
reference):

    (GitUser)-[:OWNS]->(GitRepo)-[:DEPENDS_ON]->(NodeModule)
                                   -[:HOSTED_ON]->(GitRepo)

with heterogeneous DEPENDS_ON / DEV_DEPENDS_ON / PEER_DEPENDS_ON edges
running both GitRepo->NodeModule and NodeModule->NodeModule
(reference src/Neo4jClient.ts:443-482), node identity keys
GitRepo.full_name / GitUser.username / NodeModule.name
(src/Neo4jClient.ts:29-54), self-loops
(documentation/queries.md:226-234), cycles guarded in the recursive
closure (src/Neo4jClient.ts:321-327), and heavy-tailed in-degree
(lodash: 5,931 dependants).

Here the graph is DERIVED DETERMINISTICALLY from the driver's TPC-H-ish
tables so that every graph query has a DuckDB-oracle twin on the same
parquet inputs:

    GitUser    <- customer   (id = c_custkey*10 + 0)
    GitRepo    <- orders     (id = o_orderkey*10 + 1, owned via o_custkey)
    NodeModule <- part       (id = p_partkey*10 + 2)

    OWNS            user->repo      one per order row
    DEPENDS_ON /
    DEV_DEPENDS_ON /
    PEER_DEPENDS_ON repo->module    distinct (l_orderkey, l_partkey),
                                    rel_type = l_linenumber % 3
    DEPENDS_ON      module->module  a forward DAG over partkeys:
                                    tree edges p->2p+1 and p->2p+2,
                                    sparse cross edges p->p+3 (p%5==0)
                                    -> path multiplicity, and hub edges
                                    p->maxkey-(p%4) for odd p -> heavy
                                    tailed in-degree (~N/4 per hub)
    DEV_DEPENDS_ON  module->module  the p->2p+2 edge when p%3==0, plus
                                    SELF-LOOPS p->p for p%97==0
    HOSTED_ON       module->repo    p_partkey == o_orderkey, even p

All module->module DEPENDS_ON edges satisfy dst > src, so the closure
relation is acyclic by construction and both the iterative Spark closure
and DuckDB's WITH RECURSIVE terminate; cycle-safety itself is unit-tested
on hand-built cyclic graphs (tests/test_paths.py).

Scale notes (100 TB thinking):
- The vertex/edge builds are pure narrow projections + unions over the
  base scans, except the hub rule, which needs max(p_partkey): that is a
  scalar aggregate crossJoin-broadcast, not a driver collect.
- The id-namespacing (k*10 + label_ordinal) keeps join keys BIGINT, so
  every downstream join/groupBy shuffles fixed-width keys instead of
  strings.
- Edge tables carry (src_label, dst_label) so label-restricted pattern
  matches (e.g. dependants from repos vs modules,
  reference documentation/queries.md:254-278) are cheap column filters,
  not joins against a vertex-label dim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.io.tables import load_table

OWNS = "OWNS"
DEPENDS_ON = "DEPENDS_ON"
DEV_DEPENDS_ON = "DEV_DEPENDS_ON"
PEER_DEPENDS_ON = "PEER_DEPENDS_ON"
HOSTED_ON = "HOSTED_ON"

REL_TYPES = (OWNS, DEPENDS_ON, DEV_DEPENDS_ON, PEER_DEPENDS_ON, HOSTED_ON)

GIT_USER = "GitUser"
GIT_REPO = "GitRepo"
NODE_MODULE = "NodeModule"


@dataclass(frozen=True)
class PropertyGraph:
    """GraphFrames-style (vertices, edges) pair.

    vertices: id BIGINT, label STRING, name STRING, score DOUBLE,
              created_at TIMESTAMP (repos only)
    edges:    src BIGINT, dst BIGINT, rel_type STRING,
              src_label STRING, dst_label STRING, version STRING
    """

    vertices: DataFrame
    edges: DataFrame

    def module_dep_edges(self) -> DataFrame:
        """module->module DEPENDS_ON — the closure/algorithm subgraph."""
        e = self.edges
        return e.filter(
            (e.rel_type == DEPENDS_ON)
            & (e.src_label == NODE_MODULE)
            & (e.dst_label == NODE_MODULE)
        ).select("src", "dst")


def _user_id(c):  # c_custkey -> GitUser id
    return (c * 10).cast("bigint")


def _repo_id(c):  # o_orderkey -> GitRepo id
    return (c * 10 + 1).cast("bigint")


def _module_id(c):  # p_partkey -> NodeModule id
    return (c * 10 + 2).cast("bigint")


def build_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    part = load_table(spark, "part", sf_dir)

    users = customer.select(
        _user_id(F.col("c_custkey")).alias("id"),
        F.lit(GIT_USER).alias("label"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("score"),
        F.lit(None).cast("timestamp").alias("created_at"),
    )
    repos = orders.select(
        _repo_id(F.col("o_orderkey")).alias("id"),
        F.lit(GIT_REPO).alias("label"),
        F.concat(F.lit("repo_"), F.col("o_orderkey").cast("string")).alias("name"),
        F.col("o_totalprice").alias("score"),
        F.col("o_orderdate").alias("created_at"),
    )
    modules = part.select(
        _module_id(F.col("p_partkey")).alias("id"),
        F.lit(NODE_MODULE).alias("label"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("score"),
        F.lit(None).cast("timestamp").alias("created_at"),
    )
    return users.unionByName(repos).unionByName(modules)


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)

    def edge(src, dst, rel, src_label, dst_label, version):
        return [
            src.alias("src"),
            dst.alias("dst"),
            rel.alias("rel_type") if not isinstance(rel, str) else F.lit(rel).alias("rel_type"),
            F.lit(src_label).alias("src_label"),
            F.lit(dst_label).alias("dst_label"),
            version.alias("version")
            if version is not None
            else F.lit(None).cast("string").alias("version"),
        ]

    owns = orders.select(
        *edge(
            _user_id(F.col("o_custkey")),
            _repo_id(F.col("o_orderkey")),
            OWNS,
            GIT_USER,
            GIT_REPO,
            None,
        )
    )

    # repo -> module dependency edges from lineitem; rel_type keyed off
    # the line number so all three dependency flavors appear, DISTINCT to
    # mirror the reference's (src, dst, rel_type)-unique EXISTS gate
    # (src/Neo4jClient.ts:443-462).
    rel_expr = (
        F.when(F.col("l_linenumber") % 3 == 0, DEPENDS_ON)
        .when(F.col("l_linenumber") % 3 == 1, DEV_DEPENDS_ON)
        .otherwise(PEER_DEPENDS_ON)
    )
    repo_deps = lineitem.select(
        *edge(
            _repo_id(F.col("l_orderkey")),
            _module_id(F.col("l_partkey")),
            rel_expr,
            GIT_REPO,
            NODE_MODULE,
            F.concat(F.lit("^"), (F.col("l_linenumber") % 3).cast("string"), F.lit(".0.0")),
        )
    ).distinct()

    p = part.select("p_partkey")
    keys = p.withColumnRenamed("p_partkey", "k")
    ver = F.concat(F.lit("~1.0."), (F.col("p_partkey") % 10).cast("string"))
    ver2 = F.concat(F.lit("~2.0."), (F.col("p_partkey") % 10).cast("string"))

    # module->module forward DAG (see module docstring). Each rule is an
    # equi-join against the key set so only existing dst keys survive.
    tree_left = p.join(keys, keys.k == p.p_partkey * 2 + 1).select(
        *edge(_module_id(F.col("p_partkey")), _module_id(F.col("k")), DEPENDS_ON, NODE_MODULE, NODE_MODULE, ver)
    )
    tree_right = p.join(keys, keys.k == p.p_partkey * 2 + 2).select(
        *edge(
            _module_id(F.col("p_partkey")),
            _module_id(F.col("k")),
            F.when(F.col("p_partkey") % 3 == 0, DEV_DEPENDS_ON).otherwise(DEPENDS_ON),
            NODE_MODULE,
            NODE_MODULE,
            ver2,
        )
    )
    cross = (
        p.filter(F.col("p_partkey") % 5 == 0)
        .join(keys, keys.k == p.p_partkey + 3)
        .select(
            *edge(_module_id(F.col("p_partkey")), _module_id(F.col("k")), DEPENDS_ON, NODE_MODULE, NODE_MODULE, F.lit("1.2.3"))
        )
    )
    # hub edges: heavy-tailed in-degree without breaking acyclicity —
    # scalar max via broadcast crossJoin, never a driver collect.
    mk = part.agg(F.max("p_partkey").alias("mk"))
    hubs = (
        p.crossJoin(F.broadcast(mk))
        .filter((F.col("p_partkey") % 2 == 1) & (F.col("p_partkey") < F.col("mk") - 4))
        .select(
            *edge(
                _module_id(F.col("p_partkey")),
                _module_id(F.col("mk") - (F.col("p_partkey") % 4)),
                DEPENDS_ON,
                NODE_MODULE,
                NODE_MODULE,
                F.lit(">=1.0.0"),
            )
        )
    )
    self_loops = p.filter(F.col("p_partkey") % 97 == 0).select(
        *edge(
            _module_id(F.col("p_partkey")),
            _module_id(F.col("p_partkey")),
            DEV_DEPENDS_ON,
            NODE_MODULE,
            NODE_MODULE,
            F.lit("0.0.1"),
        )
    )
    hosted = (
        part.filter(F.col("p_partkey") % 2 == 0)
        .join(orders, orders.o_orderkey == part.p_partkey)
        .select(
            *edge(_module_id(F.col("p_partkey")), _repo_id(F.col("o_orderkey")), HOSTED_ON, NODE_MODULE, GIT_REPO, None)
        )
    )

    return (
        owns.unionByName(repo_deps)
        .unionByName(tree_left)
        .unionByName(tree_right)
        .unionByName(cross)
        .unionByName(hubs)
        .unionByName(self_loops)
        .unionByName(hosted)
    )


def build_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    return PropertyGraph(build_vertices(spark, sf_dir), build_edges(spark, sf_dir))


def cyclic_module_edges(
    spark: SparkSession, sf_dir: str, mm: DataFrame | None = None
) -> DataFrame:
    """Module graph with REAL cycles for SCC/community algorithms: the
    DEPENDS_ON DAG plus deterministic back edges (reverse of the
    p -> 2p+1 tree edge when p % 32 == 0). Mirrors the reference's SCC
    input, where cyclic npm dependencies yield small multi-node
    components (setCount 56,291 / maxSetSize 9,
    documentation/queries.md:133). Oracle twin: CYCLIC_EDGES_CTE.

    Pass ``mm`` (the module DEPENDS_ON edge set, e.g. from the
    materialized store) to avoid re-deriving it."""
    part = load_table(spark, "part", sf_dir)
    if mm is None:
        mm = build_graph(spark, sf_dir).module_dep_edges()
    p = part.select("p_partkey")
    keys = p.withColumnRenamed("p_partkey", "k")
    back = (
        p.filter(F.col("p_partkey") % 32 == 0)
        .join(keys, keys.k == p.p_partkey * 2 + 1)
        .select(
            _module_id(F.col("k")).alias("src"),
            _module_id(F.col("p_partkey")).alias("dst"),
        )
    )
    return mm.unionByName(back)


# appended after GRAPH_ORACLE_CTES: the same cyclified edge set in SQL
CYCLIC_EDGES_CTE = """
, cyclic_edges AS (
  SELECT src, dst FROM mm_edges
  UNION ALL
  SELECT c.p_partkey*10+2, p.p_partkey*10+2
  FROM part p JOIN part c ON c.p_partkey = 2*p.p_partkey+1
  WHERE p.p_partkey % 32 = 0
)
"""


# ---------------------------------------------------------------------------
# Canonical oracle CTEs: the SAME derivation in ANSI SQL for DuckDB.
# Oracle queries are written as f"{GRAPH_ORACLE_CTES} SELECT ... FROM edges".
# The driver's hash-compare at sf0.01 is exactly what proves the DataFrame
# build above and this SQL agree.
# ---------------------------------------------------------------------------

GRAPH_ORACLE_CTES = """
WITH RECURSIVE vertices AS (
  SELECT c_custkey*10 AS id, 'GitUser' AS label, c_name AS name,
         c_acctbal AS score, CAST(NULL AS TIMESTAMP) AS created_at
  FROM customer
  UNION ALL
  SELECT o_orderkey*10+1, 'GitRepo', concat('repo_', CAST(o_orderkey AS VARCHAR)),
         o_totalprice, o_orderdate
  FROM orders
  UNION ALL
  SELECT p_partkey*10+2, 'NodeModule', p_name, p_retailprice, CAST(NULL AS TIMESTAMP)
  FROM part
),
edges AS (
  SELECT o_custkey*10 AS src, o_orderkey*10+1 AS dst, 'OWNS' AS rel_type,
         'GitUser' AS src_label, 'GitRepo' AS dst_label, CAST(NULL AS VARCHAR) AS version
  FROM orders
  UNION ALL
  SELECT DISTINCT l_orderkey*10+1, l_partkey*10+2,
    CASE l_linenumber % 3 WHEN 0 THEN 'DEPENDS_ON' WHEN 1 THEN 'DEV_DEPENDS_ON'
         ELSE 'PEER_DEPENDS_ON' END,
    'GitRepo', 'NodeModule',
    concat('^', CAST(l_linenumber % 3 AS VARCHAR), '.0.0')
  FROM lineitem
  UNION ALL
  SELECT p.p_partkey*10+2, c.p_partkey*10+2, 'DEPENDS_ON', 'NodeModule', 'NodeModule',
         concat('~1.0.', CAST(p.p_partkey % 10 AS VARCHAR))
  FROM part p JOIN part c ON c.p_partkey = 2*p.p_partkey+1
  UNION ALL
  SELECT p.p_partkey*10+2, c.p_partkey*10+2,
         CASE WHEN p.p_partkey % 3 = 0 THEN 'DEV_DEPENDS_ON' ELSE 'DEPENDS_ON' END,
         'NodeModule', 'NodeModule',
         concat('~2.0.', CAST(p.p_partkey % 10 AS VARCHAR))
  FROM part p JOIN part c ON c.p_partkey = 2*p.p_partkey+2
  UNION ALL
  SELECT p.p_partkey*10+2, c.p_partkey*10+2, 'DEPENDS_ON', 'NodeModule', 'NodeModule', '1.2.3'
  FROM part p JOIN part c ON c.p_partkey = p.p_partkey+3 WHERE p.p_partkey % 5 = 0
  UNION ALL
  SELECT p.p_partkey*10+2, (m.mk - (p.p_partkey % 4))*10+2, 'DEPENDS_ON',
         'NodeModule', 'NodeModule', '>=1.0.0'
  FROM part p CROSS JOIN (SELECT max(p_partkey) AS mk FROM part) m
  WHERE p.p_partkey % 2 = 1 AND p.p_partkey < m.mk - 4
  UNION ALL
  SELECT p_partkey*10+2, p_partkey*10+2, 'DEV_DEPENDS_ON', 'NodeModule', 'NodeModule', '0.0.1'
  FROM part WHERE p_partkey % 97 = 0
  UNION ALL
  SELECT p.p_partkey*10+2, o.o_orderkey*10+1, 'HOSTED_ON', 'NodeModule', 'GitRepo',
         CAST(NULL AS VARCHAR)
  FROM part p JOIN orders o ON o.o_orderkey = p.p_partkey WHERE p.p_partkey % 2 = 0
),
mm_edges AS (
  SELECT src, dst FROM edges
  WHERE rel_type = 'DEPENDS_ON' AND src_label = 'NodeModule' AND dst_label = 'NodeModule'
)
"""
