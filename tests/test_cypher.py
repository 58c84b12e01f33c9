"""cypher_lite: the reference's own Cypher query shapes
(documentation/queries.md) running verbatim against the engine, each
cross-checked against the equivalent hand-built DataFrame plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from github_miner_spark.cypher import run_cypher
from github_miner_spark.graph.store import load_graph

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_top_used_modules(spark):
    # reference documentation/queries.md:212-217
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH ()-[:DEPENDS_ON]->(n1:NodeModule) "
        "RETURN n1.name AS module_name, count(*) AS degree "
        "ORDER BY degree DESC, module_name LIMIT 10",
    )
    names = g.vertices.filter(F.col("label") == "NodeModule").select(
        F.col("id").alias("dst"), F.col("name").alias("module_name")
    )
    want = (
        g.edges.filter(F.col("rel_type") == "DEPENDS_ON")
        .join(names, "dst")
        .groupBy("module_name")
        .agg(F.count("*").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("module_name"))
        .limit(10)
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_point_lookup_with_where_id(spark):
    # reference documentation/queries.md:12-15 (modules used by a repo)
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) WHERE id(r) = 421 "
        "RETURN m.name AS module_name ORDER BY module_name",
    )
    names = g.vertices.select(F.col("id").alias("dst"), F.col("name").alias("module_name"))
    want = (
        g.edges.filter(
            (F.col("src") == 421)
            & (F.col("rel_type") == "DEPENDS_ON")
            & (F.col("dst_label") == "NodeModule")
        )
        .join(names, "dst")
        .select("module_name")
        .orderBy("module_name")
    )
    assert _rows(got) == _rows(want)


def test_two_pattern_join_with_owner(spark):
    # reference documentation/queries.md:18-21 (who depends on module X)
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (u:GitUser)-[:OWNS]->(r:GitRepo), (r)-[:DEPENDS_ON]->(m:NodeModule) "
        "WHERE id(m) = 72 RETURN r.name AS repo_name, u.name AS owner_name "
        "ORDER BY repo_name",
    )
    e = g.edges
    v = g.vertices.select("id", "name")
    deps = e.filter((e.dst == 72) & (e.rel_type == "DEPENDS_ON")).select(
        e.src.alias("repo_id")
    )
    owns = e.filter(e.rel_type == "OWNS").select(
        e.src.alias("user_id"), e.dst.alias("owned")
    )
    want = (
        deps.join(owns, deps.repo_id == owns.owned)
        .join(v.withColumnRenamed("id", "repo_id").withColumnRenamed("name", "repo_name"), "repo_id")
        .join(v.withColumnRenamed("id", "user_id").withColumnRenamed("name", "owner_name"), "user_id")
        .select("repo_name", "owner_name")
    )
    assert _rows(got) == _rows(want)


def test_negated_pattern_counts_unhosted(spark):
    # WHERE NOT (m)-[:HOSTED_ON]->()  — anti-join semantics
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) "
        "WHERE NOT (m)-[:HOSTED_ON]->() RETURN count(*) AS n",
    )
    hosted = g.edges.filter(F.col("rel_type") == "HOSTED_ON").select(
        F.col("src").alias("m_id")
    ).distinct()
    want = (
        g.edges.filter(
            (F.col("rel_type") == "DEPENDS_ON")
            & (F.col("src_label") == "GitRepo")
            & (F.col("dst_label") == "NodeModule")
        )
        .select(F.col("dst").alias("m_id"))
        .join(hosted, "m_id", "left_anti")
        .count()
    )
    assert got.collect()[0]["n"] == want


def test_collect_and_group(spark):
    # reference documentation/queries.md:170-175 (collect(n.name))
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) WHERE id(r) < 1000 "
        "RETURN id(r) AS repo_id, collect(m.name) AS module_names",
    )
    names = g.vertices.select(F.col("id").alias("dst"), "name")
    want = (
        g.edges.filter(
            (F.col("rel_type") == "DEPENDS_ON")
            & (F.col("src_label") == "GitRepo")
            & (F.col("src") < 1000)
        )
        .join(names, "dst")
        .groupBy(F.col("src").alias("repo_id"))
        .agg(F.sort_array(F.collect_list("name")).alias("module_names"))
    )
    got_map = {r["repo_id"]: list(r["module_names"]) for r in got.collect()}
    want_map = {r["repo_id"]: list(r["module_names"]) for r in want.collect()}
    assert got_map == want_map


def test_property_map_and_comparison(spark):
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (u:GitUser)-[:OWNS]->(r:GitRepo) WHERE r.score > 100000 "
        "RETURN count(DISTINCT u.id) AS owners, count(*) AS repos",
    )
    owns = g.edges.filter(F.col("rel_type") == "OWNS")
    rich = g.vertices.filter((F.col("label") == "GitRepo") & (F.col("score") > 100000)).select(
        F.col("id").alias("dst")
    )
    j = owns.join(rich, "dst")
    row = got.collect()[0]
    assert row["repos"] == j.count()
    assert row["owners"] == j.select("src").distinct().count()


def test_distinct_projection(spark):
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[e:DEPENDS_ON|DEV_DEPENDS_ON]->(m:NodeModule) "
        "RETURN DISTINCT e.rel_type AS rel_type ORDER BY rel_type",
    )
    assert [r["rel_type"] for r in got.collect()] == ["DEPENDS_ON", "DEV_DEPENDS_ON"]


def test_self_loop_pattern(spark):
    g = load_graph(spark, SF)
    got = run_cypher(g, "MATCH (a)-[:DEPENDS_ON]->(a) RETURN count(*) AS n")
    want = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON") & (F.col("src") == F.col("dst"))
    ).count()
    assert got.collect()[0]["n"] == want


def test_unsupported_constructs_raise_with_pointer(spark):
    g = load_graph(spark, SF)
    with pytest.raises(NotImplementedError, match="all_shortest_paths"):
        run_cypher(g, "MATCH p = shortestPath((a)-[*]->(b)) RETURN p")
    with pytest.raises(NotImplementedError, match="algorithms"):
        run_cypher(g, "MATCH (n) CALL algo.pageRank() RETURN n")


def test_bare_node_scan_with_order(spark):
    # reference documentation/queries.md:186-190 shape (PageRank read-back):
    # MATCH (n:NodeModule) RETURN n.name, n.score ORDER BY score DESC LIMIT 10
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (n:NodeModule) RETURN n.name AS name, n.score AS score "
        "ORDER BY score DESC, name LIMIT 10",
    )
    want = (
        g.vertices.filter(F.col("label") == "NodeModule")
        .select("name", "score")
        .orderBy(F.desc("score"), F.asc("name"))
        .limit(10)
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_exists_undirected_between_named_modules(spark):
    # reference documentation/queries.md:193-196 VERBATIM shape:
    # MATCH (a {name:..}), (b {name:..}) RETURN EXISTS((a)-[:R]-(b))
    g = load_graph(spark, SF)
    # pick a real DEV_DEPENDS_ON edge and check both directions + a negative
    e = (
        g.edges.filter(F.col("rel_type") == "DEV_DEPENDS_ON")
        .select("src", "dst")
        .first()
    )
    v = {r["id"]: r["name"] for r in g.vertices.collect()}
    a_name, b_name = v[e["src"]], v[e["dst"]]

    def exists_q(x, y):
        rows = run_cypher(
            g,
            f"MATCH (a {{name: '{x}'}}), (b {{name: '{y}'}}) "
            "RETURN EXISTS((a)-[:DEV_DEPENDS_ON]-(b)) AS linked",
        ).collect()
        return {r["linked"] for r in rows}

    assert True in exists_q(a_name, b_name)
    assert True in exists_q(b_name, a_name)  # undirected: reverse also true


def test_cartesian_match_two_nodes(spark):
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (u:GitUser), (r:GitRepo) RETURN count(*) AS n",
    ).collect()[0]["n"]
    nu = g.vertices.filter(F.col("label") == "GitUser").count()
    nr = g.vertices.filter(F.col("label") == "GitRepo").count()
    assert got == nu * nr


def test_multi_hop_not_pattern_raises(spark):
    """ADVICE r2: per-hop anti-joins would silently compute the wrong
    thing for a negated multi-hop path — must raise with a pointer."""
    g = load_graph(spark, SF)
    with pytest.raises(NotImplementedError, match="multi-hop NOT"):
        run_cypher(
            g,
            "MATCH (r:GitRepo) "
            "WHERE NOT (r)-[:DEPENDS_ON]->()-[:DEPENDS_ON]->() "
            "RETURN count(*) AS n",
        )


def test_order_by_non_returned_property(spark):
    """ADVICE r2: ORDER BY on a var.prop outside the RETURN list must
    join the vertex property in instead of failing analysis."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) WHERE id(r) = 421 "
        "RETURN m.id AS module_id ORDER BY m.name",
    )
    names = g.vertices.select(F.col("id").alias("dst"), F.col("name").alias("name"))
    want = (
        g.edges.filter((F.col("src") == 421) & (F.col("rel_type") == "DEPENDS_ON"))
        .join(names, "dst")
        .orderBy("name")
        .select(F.col("dst").alias("module_id"))
    )
    assert [r["module_id"] for r in got.collect()] == [r["module_id"] for r in want.collect()]


def test_optional_match_with_chain_verbatim(spark):
    """Reference documentation/queries.md:373-378 VERBATIM: leading
    OPTIONAL MATCH with a left-pointing arrow, aggregate-only WITH
    chaining, and a second OPTIONAL MATCH segment."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "OPTIONAL MATCH (g:GitRepo)<-[:HOSTED_ON]-(n:NodeModule) "
        "WITH count(n) as totalNodeModulesHostedOnGit "
        "OPTIONAL MATCH (g:GitRepo) "
        "RETURN count(g) as totalRepos, totalNodeModulesHostedOnGit",
    ).collect()
    assert len(got) == 1
    repos = g.vertices.filter(F.col("label") == "GitRepo")
    hosted = (
        g.edges.filter(
            (F.col("rel_type") == "HOSTED_ON")
            & (F.col("src_label") == "NodeModule")
            & (F.col("dst_label") == "GitRepo")
        )
    )
    assert got[0]["totalRepos"] == repos.count()
    assert got[0]["totalNodeModulesHostedOnGit"] == hosted.count()


def test_bounded_varlen_compiles_to_k_hop(spark):
    """Reference src/insertData.ts:60 shape: rel-type alternation +
    *..2 bounded expansion (prop map adapted to this graph's ``name``
    property). Path multiplicity must match k_hop's unrolled joins."""
    from github_miner_spark.graph.paths import k_hop

    g = load_graph(spark, SF)
    # bare node vars project Neo4j-style node structs; compare by id
    got = run_cypher(
        g,
        "MATCH (repo:GitRepo {name:'repo_0'})-[:DEPENDS_ON|DEV_DEPENDS_ON*..2]->(n) "
        "RETURN repo, n",
    ).select(F.col("repo.id"), F.col("n.id"))
    root = g.vertices.filter(
        (F.col("label") == "GitRepo") & (F.col("name") == "repo_0")
    ).collect()[0]["id"]
    e = g.edges.filter(F.col("rel_type").isin("DEPENDS_ON", "DEV_DEPENDS_ON"))
    want = (
        k_hop(e.select("src", "dst"), None, 2, distinct_nodes=False)
        .filter(F.col("root") == root)
        .select("root", "node")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_left_arrow_exact_hop_distinct(spark):
    """Reference documentation/queries.md:380-382 shape: left arrow +
    *1 exact-depth var-length + RETURN distinct."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (n1:NodeModule {name:'old gear'})<-[:DEPENDS_ON*1]-(n2:NodeModule) "
        "RETURN distinct n2.name",
    )
    # synthetic names repeat: 'old gear' labels several modules, and
    # Cypher matches every one of them
    targets = [
        r["id"]
        for r in g.vertices.filter(
            (F.col("label") == "NodeModule") & (F.col("name") == "old gear")
        ).collect()
    ]
    names = g.vertices.filter(F.col("label") == "NodeModule").select(
        F.col("id").alias("src"), F.col("name").alias("n2_name")
    )
    want = (
        g.edges.filter(
            (F.col("rel_type") == "DEPENDS_ON") & F.col("dst").isin(targets)
        )
        .join(names, "src")
        .select("n2_name")
        .distinct()
    )
    assert _rows(got) == _rows(want)


def test_optional_match_left_outer_join(spark):
    """Binary OPTIONAL MATCH: repos keep a row with null module when
    nothing hosts them — the hosted_on_outer operator as Cypher."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo) WHERE id(r) < 2001 "
        "OPTIONAL MATCH (m:NodeModule)-[:HOSTED_ON]->(r) "
        "RETURN id(r) AS repo_id, r.name AS repo_name, id(m) AS hosted_module_id "
        "ORDER BY repo_id",
    )
    hosted = g.edges.filter(F.col("rel_type") == "HOSTED_ON").select(
        F.col("src").alias("hosted_module_id"), F.col("dst").alias("rid")
    )
    repos = g.vertices.filter((F.col("label") == "GitRepo") & (F.col("id") < 2001)).select(
        F.col("id").alias("repo_id"), F.col("name").alias("repo_name")
    )
    want = (
        repos.join(hosted, repos.repo_id == hosted.rid, "left_outer")
        .select("repo_id", "repo_name", "hosted_module_id")
        .orderBy("repo_id")
    )
    assert _rows(got) == _rows(want)
    # at least one unhosted repo exercises the outer side
    assert got.filter(F.col("hosted_module_id").isNull()).count() > 0


def test_unsupported_varlen_raises_and_with_rescoping_runs(spark):
    g = load_graph(spark, SF)
    # lower bounds other than 1 stay out of scope for unbounded edges
    with pytest.raises(NotImplementedError, match="lower bound"):
        run_cypher(g, "MATCH (a)-[:DEPENDS_ON*2..]->(b) RETURN count(*) AS n")
    with pytest.raises(NotImplementedError, match="lower bound"):
        run_cypher(g, "MATCH (a)-[:DEPENDS_ON*0..]->(b) RETURN count(*) AS n")
    # MATCH after a row-carrying WITH is supported since round 5: with
    # no shared variables Cypher prescribes the cartesian product
    got = run_cypher(
        g,
        "MATCH (a:GitRepo) WITH a.name as nm MATCH (b) RETURN count(*) AS n",
    ).collect()[0]["n"]
    n_repos = g.vertices.filter(F.col("label") == "GitRepo").count()
    assert got == n_repos * g.vertices.count()


def test_unbounded_closure_verbatim(spark):
    """The reference's flagship path-multiplicity query
    (documentation/queries.md:284-303) as verbatim Cypher: [*] compiles
    onto closure_path_counts, count() folds multiplicity, count(DISTINCT)
    dedups — cross-checked against the closure operator directly."""
    from github_miner_spark.graph.paths import closure_path_counts

    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (a:NodeModule {id: 2})-[:DEPENDS_ON*]->(b) "
        "RETURN count(b) AS paths, count(DISTINCT b) AS distinct_nodes",
    ).collect()
    cl = closure_path_counts(g.module_dep_edges(), roots=[2])
    want = cl.agg(
        F.sum("paths").alias("paths"), F.count("node").alias("distinct_nodes")
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_unbounded_closure_distinct_projection(spark):
    """RETURN DISTINCT over [*] = the reachable set (multiplicity
    dropped), matching the closure's distinct nodes."""
    from github_miner_spark.graph.paths import closure_path_counts

    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (a:NodeModule {id: 2})-[:DEPENDS_ON*]->(b) "
        "RETURN DISTINCT id(b) AS node ORDER BY node",
    )
    want = (
        closure_path_counts(g.module_dep_edges(), roots=[2])
        .select("node")
        .orderBy("node")
    )
    assert _rows(got) == _rows(want)


def test_unbounded_per_path_rows_raise_before_execution(spark):
    """Non-DISTINCT non-aggregate projection over [*] raises (per-path
    rows are not materialized) — and must do so BEFORE the eager closure
    runs, so the error is instant even on pathological inputs."""
    g = load_graph(spark, SF)
    with pytest.raises(NotImplementedError, match="reachable pairs"):
        run_cypher(
            g, "MATCH (a:NodeModule {id: 2})-[:DEPENDS_ON*]->(b) RETURN id(b) AS n"
        )


def test_leading_optional_match_zero_matches_aggregates(spark):
    """Code-review r3: a zero-match leading OPTIONAL MATCH binds one
    all-null row in Cypher, so count(*) = 1, count(v) = 0, sum = 0."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "OPTIONAL MATCH (g:GitRepo) WHERE g.score > 999999999 "
        "RETURN count(*) AS rows, count(g) AS matches, sum(g.score) AS total",
    ).collect()
    assert [tuple(r) for r in got] == [(1, 0, 0.0)]


def test_cross_block_property_filter(spark):
    """Code-review r3: WHERE in an OPTIONAL MATCH referencing a prop of
    a var bound in the FIRST block must filter inside the optional
    block (pre-join), not crash with an unresolved column."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo) "
        "OPTIONAL MATCH (m:NodeModule)-[:HOSTED_ON]->(r) WHERE r.id < 2001 "
        "RETURN count(*) AS rows, count(m) AS hosted",
    ).collect()
    repos = g.vertices.filter(F.col("label") == "GitRepo")
    hosted_small = g.edges.filter(
        (F.col("rel_type") == "HOSTED_ON") & (F.col("dst") < 2001)
    )
    n_hosted = hosted_small.count()
    n_unmatched = repos.count() - hosted_small.select("dst").distinct().count()
    assert got[0]["hosted"] == n_hosted
    assert got[0]["rows"] == n_hosted + n_unmatched


def test_with_order_by_runs(spark):
    """ORDER BY inside WITH is supported since round 5 (it is a no-op
    on this 1-row aggregate scope, but must parse and run)."""
    g = load_graph(spark, SF)
    row = run_cypher(
        g,
        "MATCH (m:NodeModule) WITH count(m) AS total ORDER BY total "
        "MATCH (r:GitRepo) RETURN count(r) AS repos, total",
    ).collect()[0]
    assert row["total"] == g.vertices.filter(F.col("label") == "NodeModule").count()
    assert row["repos"] == g.vertices.filter(F.col("label") == "GitRepo").count()


def test_order_by_carried_alias(spark):
    """Code-review r3: ORDER BY on a carried WITH alias (re-listed in
    RETURN or not) must resolve, consistently with the pre-parse."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (m:NodeModule) WITH count(m) AS total "
        "MATCH (r:GitRepo) RETURN count(r) AS repos, total ORDER BY total",
    ).collect()
    n_mod = g.vertices.filter(F.col("label") == "NodeModule").count()
    n_repo = g.vertices.filter(F.col("label") == "GitRepo").count()
    assert len(got) == 1
    assert got[0]["repos"] == n_repo and got[0]["total"] == n_mod


def test_size_degree_expression_matches_groupby(spark):
    """Reference documentation/queries.md:58-64 VERBATIM: SIZE pattern
    expressions compile to degree groupBy-counts left-joined per row."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (n:NodeModule) RETURN n.name AS name, "
        "size((n)-[:DEPENDS_ON]->()) AS dependencies, "
        "size((n)<-[:DEPENDS_ON]-()) AS dependants "
        "ORDER BY dependants DESC",
    )
    e = g.edges.filter(F.col("rel_type") == "DEPENDS_ON")
    mods = g.vertices.filter(F.col("label") == "NodeModule")
    outd = e.groupBy(F.col("src").alias("id")).count()
    ind = e.groupBy(F.col("dst").alias("id")).count()
    want = {
        (r["name"], r["o"] or 0, r["i"] or 0)
        for r in mods.join(outd.withColumnRenamed("count", "o"), "id", "left")
        .join(ind.withColumnRenamed("count", "i"), "id", "left")
        .select("name", "o", "i")
        .collect()
    }
    assert {(r.name, r.dependencies, r.dependants) for r in got.collect()} == want
    # endpoint-label-restricted SIZE (queries.md:270-278 shape) + FLOOR
    # + non-aggregate WITH chain
    got2 = run_cypher(
        g,
        "MATCH (n:NodeModule) "
        "WITH FLOOR(SIZE((n)<-[:DEPENDS_ON]-(:GitRepo))) AS dependedOnByRepos, "
        "FLOOR(SIZE((n)<-[:DEPENDS_ON]-(:NodeModule))) AS dependedOnByModules, "
        "n.name as module "
        "RETURN module, dependedOnByRepos, dependedOnByModules "
        "ORDER BY dependedOnByModules DESC, module LIMIT 5",
    ).collect()
    repos = g.vertices.filter(F.col("label") == "GitRepo").select("id")
    by_mod = (
        e.join(repos.withColumnRenamed("id", "src"), "src", "left_semi")
        .groupBy(F.col("dst").alias("id"))
        .count()
    )
    from_mods = (
        e.join(
            mods.select("id").withColumnRenamed("id", "src"), "src", "left_semi"
        )
        .groupBy(F.col("dst").alias("id"))
        .count()
    )
    want2 = (
        mods.join(by_mod.withColumnRenamed("count", "r"), "id", "left")
        .join(from_mods.withColumnRenamed("count", "m"), "id", "left")
        .select(
            "name",
            F.coalesce("r", F.lit(0)).alias("r"),
            F.coalesce("m", F.lit(0)).alias("m"),
        )
        .orderBy(F.desc("m"), F.asc("name"))
        .limit(5)
        .collect()
    )
    assert [(r.module, r.dependedOnByRepos, r.dependedOnByModules) for r in got2] == [
        (r.name, r.r, r.m) for r in want2
    ]


def test_undirected_hop_unions_both_orientations(spark):
    """Reference documentation/queries.md:13-15 shape: -[:R]- matches
    the relationship in either direction."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (a:NodeModule)-[:HOSTED_ON]-(b) RETURN count(*) AS n",
    ).collect()[0]["n"]
    e = g.edges.filter(F.col("rel_type") == "HOSTED_ON")
    mods = g.vertices.filter(F.col("label") == "NodeModule").select("id")
    fwd = e.join(mods.withColumnRenamed("id", "src"), "src", "left_semi").count()
    rev = e.join(mods.withColumnRenamed("id", "dst"), "dst", "left_semi").count()
    assert got == fwd + rev and got > 0


def test_whole_node_and_labels_properties(spark):
    """Reference queries.md:32 VERBATIM shape: PROPERTIES(n)/LABELS(n),
    plus bare-node RETURN projecting a (id, label, props) struct and
    missing properties reading as NULL (plugin write-back props)."""
    g = load_graph(spark, SF)
    rows = run_cypher(
        g, "MATCH (n:GitRepo) RETURN PROPERTIES(n) as props, LABELS(n) as labels"
    ).collect()
    assert len(rows) == g.vertices.filter(F.col("label") == "GitRepo").count()
    assert all(r.labels == ["GitRepo"] for r in rows)
    assert all(r.props.name.startswith("repo_") for r in rows)

    node_rows = run_cypher(
        g, "MATCH (n:GitRepo) WHERE n.score > 0 RETURN n LIMIT 3"
    ).collect()
    assert all(r.n.label == "GitRepo" and r.n.id is not None for r in node_rows)

    # n.community is never materialized by this store: Neo4j semantics
    # say missing property = NULL -> one all-NULL group
    comm = run_cypher(
        g,
        "MATCH (n:NodeModule) RETURN n.community as community, "
        "count(*) as size_of_community ORDER by size_of_community DESC LIMIT 10",
    ).collect()
    n_mods = g.vertices.filter(F.col("label") == "NodeModule").count()
    assert len(comm) == 1 and comm[0]["community"] is None
    assert comm[0]["size_of_community"] == n_mods


def test_reference_corpus_sweep(spark):
    """Every MATCH-leading query in the reference's own corpus
    (documentation/queries.md) either runs verbatim or raises a
    documented NotImplementedError pointing at the dedicated operator —
    never a parse error or a wrong-column crash."""
    import os
    import re as _re

    doc = "/root/reference/documentation/queries.md"
    if not os.path.exists(doc):
        pytest.skip("reference corpus not available")
    text = open(doc).read()
    qs = []
    for b in _re.findall(r"```\n(.*?)```", text, _re.S):
        b = b.strip()
        if not b.upper().startswith(("MATCH", "OPTIONAL", "CALL")):
            continue
        for part in _re.split(r"\n\s*\n", b):
            part = part.strip()
            if part.upper().startswith(("MATCH", "OPTIONAL", "CALL")):
                qs.append(part)
    # 37 MATCH-leading + apoc.meta.graph + the three algo.* procedure
    # invocations (louvain.stream / scc / pageRank write-backs)
    assert len(qs) >= 41
    g = load_graph(spark, SF)
    ok, notimpl = 0, 0
    import warnings as _warnings

    caught: list = []
    for q in qs:
        try:
            with _warnings.catch_warnings(record=True) as w:
                _warnings.simplefilter("always")
                run_cypher(g, q.replace("’", "'")).limit(1).collect()
            caught.extend(w)
            ok += 1
        except NotImplementedError:
            notimpl += 1
        except ValueError as e:
            # the reference's 4-statement teardown plain-DELETEs GitRepo
            # nodes; on THIS graph repos still source DEPENDS_ON edges,
            # so the faithful outcome is Neo4j's constraint error —
            # behavior parity, not a gap
            assert "DELETE" in q.upper() and "still has relationships" in str(e), (q, e)
            ok += 1
    # parse errors / analysis exceptions propagate and fail the test
    # round 4: allShortestPaths((a)-[:R*]->(b)) compiles onto
    # graph.paths.all_shortest_paths, the path-VALUE forms (RETURN
    # dependencyGraph, the nodes(p) name-chain) onto
    # enumerate_simple_paths, algo.linkprediction.* function calls onto
    # the link-prediction aggregates, DELETE / DETACH DELETE onto
    # graph/mutations.py anti-joins (MATCH (n) DETACH DELETE n runs
    # verbatim; the 4-statement teardown refuses at its GitRepo plain
    # DELETE exactly where Neo4j would on this graph), and the two
    # apoc.gephi.add path-streaming CALLs onto the Gephi event sink —
    # EVERY query in the corpus now runs (or, for the teardown, refuses
    # with Neo4j's own error on this graph); notimpl must be zero
    assert notimpl == 0, (ok, notimpl)
    assert ok == len(qs), (ok, len(qs))
    # r11: the sweep is WARNING-FREE — write:true CALLs commit the
    # property write-back instead of warning-and-discarding, so the
    # corpus's three write-backs are readable on this graph afterwards
    # (exactly the state a Neo4j database is in after running the doc
    # top to bottom; the teardown DELETEs never commit to the caller)
    cypher_warnings = [
        str(x.message) for x in caught if "run_cypher" in str(x.message)
    ]
    assert cypher_warnings == []
    for prop in ("partition", "pagerank", "community"):
        assert prop in g.vertices.columns, prop
    assert g.vertices.filter(F.col("pagerank").isNotNull()).count() > 0


def test_count_path_variable_counts_paths(spark):
    """count(p) over a bound path variable = number of matched paths
    (count(*) with [*] multiplicity folded) — only VALUE references of
    p raise."""
    from github_miner_spark.graph.paths import closure_path_counts

    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH p = (a:NodeModule {id: 2})-[:DEPENDS_ON*]->(b) "
        "RETURN count(p) AS paths",
    ).collect()[0]["paths"]
    want = (
        closure_path_counts(g.module_dep_edges(), roots=[2])
        .agg(F.sum("paths"))
        .collect()[0][0]
    )
    assert got == want and got > 0
    with pytest.raises(NotImplementedError, match="path values"):
        run_cypher(g, "MATCH p = (a)-[:DEPENDS_ON]->(b) RETURN p")


def test_all_shortest_paths_cypher_form(spark):
    """MATCH p = allShortestPaths((a)-[:R*]->(b)) RETURN p — the
    reference's shortest-path shape (documentation/queries.md:74-79) —
    compiles onto graph.paths.all_shortest_paths; shortestPath returns
    a single deterministic representative; count(p) aggregates; anchor
    SETS fan out through all_shortest_paths_multi."""
    g = load_graph(spark, SF)
    mm = g.module_dep_edges()
    row = mm.limit(1).collect()[0]
    src, dst = row["src"], row["dst"]
    q = (
        f"MATCH p = allShortestPaths((a:NodeModule {{id: {src}}})"
        f"-[:DEPENDS_ON*]->(b:NodeModule {{id: {dst}}})) RETURN p"
    )
    rows = run_cypher(g, q).collect()
    assert rows and rows[0]["p"][0] == src and rows[0]["p"][-1] == dst
    assert all(r["length"] == rows[0]["length"] for r in rows)

    single = run_cypher(g, q.replace("allShortestPaths", "shortestPath")).collect()
    assert len(single) == 1 and single[0]["p"] == min(r["p"] for r in rows)

    n = run_cypher(g, q.replace("RETURN p", "RETURN count(p) AS n")).collect()[0]["n"]
    assert n == len(rows)

    # the reference's verbatim query: full_name is not a stored property,
    # so Neo4j's missing-property-is-NULL semantics yield zero matches —
    # it RUNS (no NotImplementedError), returning no paths
    verbatim = (
        "MATCH paths = allShortestPaths((a:GitRepo "
        "{ full_name:'rossanthony/github-miner' })-[:DEPENDS_ON*]->"
        "(b:NodeModule { name:'assert-plus' })) RETURN paths"
    )
    assert run_cypher(g, verbatim).count() == 0


def test_path_enumeration_cypher_forms(spark):
    """MATCH p = (a)-[:R*]->(b) with p returned AS A VALUE compiles onto
    enumerate_simple_paths: RETURN p yields (path, length) rows for
    every reachable prefix, the nodes(p) comprehension maps ids to the
    requested property, and count() over the same pattern still routes
    to the closure fold — the two must agree on acyclic anchors."""
    g = load_graph(spark, SF)
    e = g.edges.filter(
        "rel_type='DEPENDS_ON' and src_label='NodeModule'"
    ).limit(1).collect()[0]
    src = e["src"]
    base = f"MATCH p=(n1:NodeModule {{id: {src}}})-[:DEPENDS_ON*]->(n2:NodeModule) "
    rows = run_cypher(g, base + "RETURN p").collect()
    assert rows and all(r["p"][0] == src for r in rows)
    assert all(len(r["p"]) == r["length"] + 1 for r in rows)
    assert all(len(set(r["p"])) == len(r["p"]) for r in rows)  # simple paths

    chains = run_cypher(
        g, base + "RETURN n1.name, [node in nodes(p) | node.name] as depsChain"
    ).collect()
    assert len(chains) == len(rows)
    assert all(len(c["depsChain"]) >= 2 for c in chains)

    counted = run_cypher(
        g,
        f"MATCH (a:NodeModule {{id: {src}}})-[:DEPENDS_ON*]->(b) RETURN count(b)",
    ).collect()[0][0]
    assert counted == len(rows)

    # the reference's first documented query runs verbatim (full_name is
    # not a stored property -> empty result, never a raise)
    verbatim = (
        "MATCH dependencyGraph=(a:GitRepo {\n"
        "\tfull_name:'rossanthony/github-miner'\n"
        "})-[:DEPENDS_ON*]->(child:NodeModule) RETURN dependencyGraph"
    )
    assert run_cypher(g, verbatim).count() == 0


def test_linkprediction_function_calls(spark):
    """algo.linkprediction.preferentialAttachment/commonNeighbors/
    adamicAdar over two anchored nodes (the reference's published
    queries, documentation/queries.md:100-118): undirected all-reltype
    degree semantics, cross-checked against directly-computed
    neighborhoods."""
    g = load_graph(spark, SF)
    e = g.edges.limit(1).collect()[0]
    a, b = e["src"], e["dst"]
    und = {}
    for r in g.edges.select("src", "dst").collect():
        if r["src"] != r["dst"]:
            und.setdefault(r["src"], set()).add(r["dst"])
            und.setdefault(r["dst"], set()).add(r["src"])

    def call(fn):
        q = (
            f"MATCH (p1 {{id: {a}}}) MATCH (p2 {{id: {b}}}) "
            f"RETURN algo.linkprediction.{fn}(p1, p2) AS score"
        )
        return run_cypher(g, q).collect()[0]["score"]

    assert call("preferentialAttachment") == len(und[a]) * len(und[b])
    assert call("commonNeighbors") == len(und[a] & und[b])

    # verbatim corpus text: full_name is not stored -> no anchor match,
    # zero rows (Neo4j semantics), never a raise
    verbatim = (
        "MATCH (p1:NodeModule {name: 'glob'})\n"
        "MATCH (p2:GitRepo {full_name: 'rossanthony/github-miner'})\n"
        "RETURN algo.linkprediction.preferentialAttachment(p1, p2) AS score"
    )
    assert run_cypher(g, verbatim).count() == 0


def test_delete_relationship_by_type(spark):
    """DELETE r removes exactly the matched rel_type edges (either
    orientation for an undirected hop) and nothing else."""
    from github_miner_spark.graph.mutations import apply_cypher_deletes

    g = load_graph(spark, SF)
    n_owns = g.edges.filter(F.col("rel_type") == "OWNS").count()
    res = apply_cypher_deletes(g, "MATCH (:GitUser)-[r:OWNS]-(:GitRepo) DELETE r")
    assert res.relationships_deleted == n_owns
    assert res.nodes_deleted == 0
    assert res.graph.edges.filter(F.col("rel_type") == "OWNS").count() == 0
    assert res.graph.edges.count() == g.edges.count() - n_owns
    assert res.graph.vertices.count() == g.vertices.count()


def test_delete_node_refuses_with_relationships(spark):
    """Plain DELETE of a connected node raises Neo4j's constraint error."""
    from github_miner_spark.graph.mutations import apply_cypher_deletes

    g = load_graph(spark, SF)
    with pytest.raises(ValueError, match="still has relationships"):
        apply_cypher_deletes(g, "MATCH (g:GitRepo) DELETE g")


def test_detach_delete_everything(spark):
    """MATCH (n) DETACH DELETE n (reference documentation/
    queries.md:410-413) leaves an empty graph, counters = full size."""
    from github_miner_spark.graph.mutations import apply_cypher_deletes

    g = load_graph(spark, SF)
    res = apply_cypher_deletes(g, "MATCH (n) DETACH DELETE n")
    assert res.nodes_deleted == g.vertices.count()
    assert res.relationships_deleted == g.edges.count()
    assert res.graph.vertices.count() == 0
    assert res.graph.edges.count() == 0


def test_delete_script_sequential_semantics(spark):
    """The teardown script's statements see the graph left by the
    previous statement; the result graph has no dangling edges."""
    from github_miner_spark.graph.mutations import apply_cypher_deletes

    g = load_graph(spark, SF)
    res = apply_cypher_deletes(
        g,
        "MATCH (:GitUser)-[r:OWNS]-(:GitRepo) DELETE r "
        "MATCH (:NodeModule)-[r:HOSTED_ON]-(:GitRepo) DELETE r "
        "MATCH (g:GitUser) DELETE g "
        "MATCH (g:GitRepo) DETACH DELETE g",
    )
    n_users = g.vertices.filter(F.col("label") == "GitUser").count()
    n_repos = g.vertices.filter(F.col("label") == "GitRepo").count()
    assert res.nodes_deleted == n_users + n_repos
    touched = g.edges.filter(
        (F.col("src_label") == "GitRepo") | (F.col("dst_label") == "GitRepo")
    ).count()
    assert res.relationships_deleted == touched
    # no dangling edges: every surviving endpoint is a surviving vertex
    v = res.graph.vertices.select("id")
    dangling = (
        res.graph.edges.join(v.withColumnRenamed("id", "src"), "src", "left_anti").count()
        + res.graph.edges.join(v.withColumnRenamed("id", "dst"), "dst", "left_anti").count()
    )
    assert dangling == 0


def test_delete_directed_endpoint_node(spark):
    """DETACH DELETE of a hop endpoint: only nodes matched through the
    directed pattern go, incident edges go with them."""
    from github_miner_spark.graph.mutations import apply_cypher_deletes

    g = load_graph(spark, SF)
    res = apply_cypher_deletes(
        g, "MATCH (u:GitUser)-[:OWNS]->(:GitRepo) DETACH DELETE u"
    )
    owners = g.edges.filter(F.col("rel_type") == "OWNS").select("src").distinct().count()
    assert res.nodes_deleted == owners
    assert res.graph.vertices.filter(F.col("label") == "GitUser").count() == (
        g.vertices.filter(F.col("label") == "GitUser").count() - owners
    )


def test_run_cypher_delete_returns_counters(spark):
    """run_cypher on a write returns the one-row update-counter frame."""
    g = load_graph(spark, SF)
    row = run_cypher(g, "MATCH (n:GitUser) DETACH DELETE n").collect()[0]
    n_users = g.vertices.filter(F.col("label") == "GitUser").count()
    assert row["nodes_deleted"] == n_users
    assert row["relationships_deleted"] == g.edges.filter(
        (F.col("src_label") == "GitUser") | (F.col("dst_label") == "GitUser")
    ).count()


def test_gephi_stream_call_counts_and_sink(spark, tmp_path, monkeypatch):
    """The apoc.gephi.add CALL (reference documentation/queries.md:
    200-210, 350-358) compiles onto the Gephi event sink: YIELDed
    counts equal the reachable sub-graph, event lines land on disk."""
    monkeypatch.setenv("SPARK_GRAFT_GEPHI_DIR", str(tmp_path))
    g = load_graph(spark, SF)
    name = (
        g.vertices.filter(F.col("label") == "NodeModule").select("name").first()[0]
    )
    row = run_cypher(
        g,
        f"MATCH p=(n1:NodeModule {{name:'{name}'}})-[:DEPENDS_ON*]->"
        "(n2:NodeModule) with collect(p) as paths "
        "call apoc.gephi.add('host','ws', paths) "
        "yield nodes, relationships, time "
        "return nodes, relationships, time",
    ).collect()[0]
    # independent reachable-subgraph computation
    from github_miner_spark.graph.paths import reachable_set

    anchors = g.vertices.filter(
        (F.col("label") == "NodeModule") & (F.col("name") == name)
    ).select("id")
    ee = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON") & (F.col("dst_label") == "NodeModule")
    ).select("src", "dst")
    reach = reachable_set(ee, anchors).select(F.col("node").alias("id"))
    srcs = anchors.unionByName(reach).distinct().withColumnRenamed("id", "src")
    sub = ee.join(srcs, "src", "left_semi").distinct()
    want_rels = sub.count()
    want_nodes = (
        sub.select(F.col("src").alias("id"))
        .unionByName(sub.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    assert row["nodes"] == want_nodes
    assert row["relationships"] == want_rels
    assert row["time"] >= 0
    lines = spark.read.text(str(tmp_path / "ws")).count()
    assert lines == want_nodes + want_rels

    # the community-filtered [*0] form: community is a plugin-written
    # property this store never materializes -> NULL -> empty stream
    row0 = run_cypher(
        g,
        "match p = (n:NodeModule)-[:DEPENDS_ON*0]->(:NodeModule) "
        "WHERE n.community=6 OR n.community=2 "
        "WITH p LIMIT 100000 with collect(p) as paths "
        "call apoc.gephi.add('host','ws0', paths) "
        "yield nodes, relationships, time return nodes, relationships, time",
    ).collect()[0]
    assert (row0["nodes"], row0["relationships"]) == (0, 0)


def test_gephi_stream_terminal_label_not_hopwise(spark, tmp_path, monkeypatch):
    """Neo4j semantics for (a)-[:R*]->(b:Z): only the FINAL node of a
    path carries the label — intermediates are unconstrained. On a
    heterogeneous chain X->Y->Z the streamed graph must include the
    X->Y hop (it lies on the anchor->terminal path) and exclude
    branches that never reach a Z terminal (ADVICE r4)."""
    from github_miner_spark.graph.model import PropertyGraph

    monkeypatch.setenv("SPARK_GRAFT_GEPHI_DIR", str(tmp_path))
    edges = spark.createDataFrame(
        [
            (1, 2, "R", "X", "Y", None),
            (2, 3, "R", "Y", "Z", None),
            (2, 4, "R", "Y", "Y", None),  # dead end: never reaches a Z
        ],
        "src bigint, dst bigint, rel_type string, src_label string, dst_label string, version string",
    )
    vertices = spark.createDataFrame(
        [(1, "X", "a"), (2, "Y", "b"), (3, "Z", "c"), (4, "Y", "d")],
        "id bigint, label string, name string",
    )
    g = PropertyGraph(vertices, edges)
    row = run_cypher(
        g,
        "MATCH p=(n1:X {name:'a'})-[:R*]->(n2:Z) with collect(p) as paths "
        "call apoc.gephi.add('host','wsh', paths) "
        "yield nodes, relationships, time return nodes, relationships, time",
    ).collect()[0]
    # paths: only a->b->c; rendered graph = {1->2, 2->3}, nodes {1,2,3}
    assert (row["nodes"], row["relationships"]) == (3, 2)

    # no terminal label: the whole reachable frontier streams
    row_all = run_cypher(
        g,
        "MATCH p=(n1:X {name:'a'})-[:R*]->(n2) with collect(p) as paths "
        "call apoc.gephi.add('host','wsh2', paths) "
        "yield nodes, relationships, time return nodes, relationships, time",
    ).collect()[0]
    assert (row_all["nodes"], row_all["relationships"]) == (4, 3)


def test_delete_then_store_rewrite_roundtrip(spark, tmp_path):
    """The 100 TB delete path: run the write script, COMMIT the mutated
    graph as a new store (graph/store.py save_graph), reload, and get
    byte-equal vertices/edges — deletes are store rewrites, not
    in-place row mutations."""
    from github_miner_spark.graph.mutations import apply_cypher_deletes
    from github_miner_spark.graph.store import load_graph_from, save_graph

    g = load_graph(spark, SF)
    res = apply_cypher_deletes(
        g, "MATCH (:GitUser)-[r:OWNS]-(:GitRepo) DELETE r MATCH (u:GitUser) DELETE u"
    )
    out = str(tmp_path / "mutated_store")
    save_graph(res.graph, out)
    back = load_graph_from(spark, out)
    assert back.vertices.count() == res.graph.vertices.count()
    assert back.edges.count() == res.graph.edges.count()
    assert back.edges.filter(F.col("rel_type") == "OWNS").count() == 0
    assert back.vertices.filter(F.col("label") == "GitUser").count() == 0
    # the rewritten store is a full store: queries run against it
    deg = back.edges.groupBy("rel_type").count().collect()
    assert {r["rel_type"] for r in deg} <= {
        "DEPENDS_ON", "DEV_DEPENDS_ON", "PEER_DEPENDS_ON", "HOSTED_ON"
    }


def test_property_writeback_readback(spark):
    """The plugin writeProperty loop: before write-back, n.pagerank is
    Neo4j's missing-property NULL; after with_vertex_property, the
    verbatim read-back query sees real values in rank order."""
    from github_miner_spark.graph.algorithms import pagerank
    from github_miner_spark.graph.mutations import with_vertex_property

    g = load_graph(spark, SF)
    q = (
        "MATCH (n:NodeModule) RETURN n.name AS name, n.pagerank AS pagerank "
        "ORDER BY pagerank DESC, name LIMIT 5"
    )
    before = run_cypher(g, q).collect()
    assert all(r["pagerank"] is None for r in before)

    ranks = pagerank(g.module_dep_edges(), iterations=5, damping=0.85).select(
        "id", F.round("rank", 6).alias("pagerank")
    )
    written = with_vertex_property(g, "pagerank", ranks)
    after = run_cypher(written, q).collect()
    assert all(r["pagerank"] is not None for r in after)
    vals = [r["pagerank"] for r in after]
    assert vals == sorted(vals, reverse=True)
    # the write never touches the original graph
    assert "pagerank" not in g.vertices.columns


def test_call_procedure_workflows_verbatim(spark):
    """The reference's two-step procedure workflows run as pure Cypher
    text: CALL algo.* writes the property (deterministic YIELD fields
    checked against the programmatic algorithms), and the MATCH
    read-back on the returned graph sees it."""
    from github_miner_spark.cypher import apply_cypher_call
    from github_miner_spark.graph.algorithms import strongly_connected_components

    g = load_graph(spark, SF)

    # pageRank: corpus text documentation/queries.md:180-182
    g2, row_df = apply_cypher_call(
        g,
        "CALL algo.pageRank('NodeModule', 'DEPENDS_ON', "
        "{direction:'OUTGOING', iterations:5, dampingFactor:0.85, "
        "write: true, writeProperty:'pagerank'}) "
        "YIELD nodes, iterations, dampingFactor, write, writeProperty",
    )
    row = row_df.collect()[0]
    mm = g.module_dep_edges()
    n_ranked = (
        mm.select(F.col("src").alias("id"))
        .unionByName(mm.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    assert tuple(row) == (n_ranked, 5, 0.85, True, "pagerank")
    read = run_cypher(
        g2,
        "MATCH (n:NodeModule) RETURN n.pagerank AS pagerank "
        "ORDER BY pagerank DESC LIMIT 1",
    ).collect()
    assert read[0]["pagerank"] is not None

    # scc: setCount/maxSetSize/minSetSize match the programmatic run.
    # Going through run_cypher (not apply_cypher_call) with write:true
    # COMMITS the property write-back to the passed graph object (r11
    # write:true threading; the r4 interim warned and discarded) — the
    # follow-up MATCH read-back through run_cypher alone must match
    # the explicit apply_cypher_call chaining.
    scc_call = (
        "CALL algo.scc('NodeModule', 'DEPENDS_ON', "
        "{write:true,writeProperty:'partition',concurrency:4, graph:'huge'}) "
        "YIELD loadMillis, computeMillis, writeMillis, setCount, maxSetSize, minSetSize"
    )
    scc_readback = (
        "MATCH (n:NodeModule) RETURN n.partition AS partition, "
        "count(*) AS size_of_partition "
        "ORDER by size_of_partition DESC, partition LIMIT 10"
    )
    g_chain, _ = apply_cypher_call(g, scc_call)  # g itself untouched here
    want_readback = run_cypher(g_chain, scc_readback).collect()
    assert "partition" not in g.vertices.columns
    scc_row = run_cypher(g, scc_call).collect()[0]
    assert "partition" in g.vertices.columns  # committed in place
    got_readback = run_cypher(g, scc_readback).collect()
    assert got_readback == want_readback
    assert any(r["partition"] is not None for r in got_readback)
    proj = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON")
        & (F.col("src_label") == "NodeModule")
        & (F.col("dst_label") == "NodeModule")
    ).select("src", "dst")
    comp = strongly_connected_components(proj)
    sizes = comp.groupBy("component").count()
    assert scc_row["setCount"] == sizes.count()
    assert scc_row["maxSetSize"] == sizes.agg(F.max("count")).collect()[0][0]
    assert scc_row["loadMillis"] >= 0

    # louvain.stream: corpus text with write-back, community readable
    g3, lrow = apply_cypher_call(
        g,
        "CALL algo.louvain.stream('NodeModule', 'DEPENDS_ON', "
        "{write:true, writeProperty:'community'}) "
        "YIELD nodes, communityCount, iterations",
    )
    l = lrow.collect()[0]
    assert l["nodes"] == n_ranked and l["communityCount"] >= 1
    hist = run_cypher(
        g3,
        "MATCH (n:NodeModule) RETURN n.community AS community, count(*) AS n "
        "ORDER BY n DESC, community LIMIT 3",
    ).collect()
    assert len(hist) == 3

    # unknown procedure still refuses with a pointer
    with pytest.raises(NotImplementedError, match="procedures"):
        run_cypher(g, "CALL algo.betweenness('NodeModule', 'DEPENDS_ON', {})")


def test_multi_statement_script_threads_writes(spark):
    """The reference's two-step write workflows run as ONE ;-separated
    script through the plain API (documentation/queries.md:86-98:
    louvain step 1 ends in ';', step 2 reads community back): the CALL
    write:true statement's graph threads into the MATCH read-back, and
    run_cypher returns the LAST statement's frame. run_cypher_script
    returns the threaded graph without touching the caller's object."""
    from github_miner_spark.cypher import apply_cypher_call, run_cypher_script

    g = load_graph(spark, SF)
    call = (
        "CALL algo.louvain.stream('NodeModule', 'DEPENDS_ON', { "
        "write:true, writeProperty:'community' "
        "}) YIELD nodes, communityCount, iterations"
    )
    readback = (
        "MATCH (n:NodeModule) RETURN n.community as community, "
        "count(*) as size_of_community "
        "ORDER by size_of_community DESC, community LIMIT 10"
    )
    g_chain, _ = apply_cypher_call(g, call)
    want = run_cypher(g_chain, readback).collect()

    # run_cypher_script: threaded graph returned, caller's graph intact
    g2 = load_graph(spark, SF)
    out_g, frame = run_cypher_script(g2, call + ";\n" + readback)
    assert frame.collect() == want
    assert "community" in out_g.vertices.columns
    assert "community" not in g2.vertices.columns

    # run_cypher on the same script: returns the read-back frame and
    # commits the write-back to the passed object
    g3 = load_graph(spark, SF)
    assert run_cypher(g3, call + "; " + readback).collect() == want
    assert "community" in g3.vertices.columns

    # two separate run_cypher calls — the verbatim two-step workflow
    g4 = load_graph(spark, SF)
    run_cypher(g4, call + ";")  # trailing ';' exactly as the corpus types it
    assert run_cypher(g4, readback).collect() == want

    # a delete statement never commits to the caller's graph, even when
    # it threads inside the script it appears in
    g5 = load_graph(spark, SF)
    n_edges = g5.edges.count()
    counters = run_cypher(
        g5,
        "MATCH (n:GitUser {id: 10}) DETACH DELETE n; "
        "MATCH (n:GitUser) RETURN count(*) AS users",
    )
    assert counters.collect()[0]["users"] == (
        g5.vertices.filter("label = 'GitUser'").count() - 1
    )
    assert g5.edges.count() == n_edges  # caller's graph untouched
    # ...and a write-back mixed with a delete stays non-committing
    g6 = load_graph(spark, SF)
    run_cypher(g6, call + "; MATCH (n:GitUser {id: 10}) DETACH DELETE n")
    assert "community" not in g6.vertices.columns


def test_louvain_stream_yields_assignment_rows(spark):
    """YIELD nodeId, community returns the per-node stream rows (real
    Neo4j .stream contract), identical to the programmatic run."""
    from github_miner_spark.graph.algorithms import louvain

    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "CALL algo.louvain.stream('NodeModule', 'DEPENDS_ON', {}) "
        "YIELD nodeId, community",
    )
    proj = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON")
        & (F.col("src_label") == "NodeModule")
        & (F.col("dst_label") == "NodeModule")
    ).select("src", "dst")
    want = louvain(proj, max_sweeps=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_union_find_procedure(spark):
    """algo.unionFind (the 3.5 plugin's weakly-connected-components
    procedure) yields stats matching the programmatic CC run and
    writes the component property."""
    from github_miner_spark.cypher import apply_cypher_call
    from github_miner_spark.graph.algorithms import connected_components

    g = load_graph(spark, SF)
    g2, row_df = apply_cypher_call(
        g,
        "CALL algo.unionFind('NodeModule', 'DEPENDS_ON', "
        "{write:true, writeProperty:'component'}) "
        "YIELD setCount, maxSetSize, minSetSize",
    )
    row = row_df.collect()[0]
    proj = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON")
        & (F.col("src_label") == "NodeModule")
        & (F.col("dst_label") == "NodeModule")
    ).select("src", "dst")
    sizes = connected_components(proj).groupBy("component").count()
    assert row["setCount"] == sizes.count()
    assert row["maxSetSize"] == sizes.agg(F.max("count")).collect()[0][0]
    got = run_cypher(
        g2,
        "MATCH (n:NodeModule) RETURN n.component AS component, count(*) AS n "
        "ORDER BY n DESC, component LIMIT 1",
    ).collect()[0]
    assert got["n"] >= row["maxSetSize"]  # NULL group of unprojected modules may lead


def test_pagerank_stream_rows(spark):
    """algo.pageRank.stream YIELD nodeId, score = the per-node rank
    rows, equal to the programmatic power iteration."""
    from github_miner_spark.graph.algorithms import pagerank

    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "CALL algo.pageRank.stream('NodeModule', 'DEPENDS_ON', "
        "{iterations:5, dampingFactor:0.85}) YIELD nodeId, score",
    )
    proj = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON")
        & (F.col("src_label") == "NodeModule")
        & (F.col("dst_label") == "NodeModule")
    ).select("src", "dst")
    want = pagerank(proj, iterations=5, damping=0.85).select(
        F.col("id"), F.round("rank", 6).alias("score")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_label_propagation_procedure(spark):
    """algo.labelPropagation CALL yields node count + iterations and
    writes the community property."""
    from github_miner_spark.cypher import apply_cypher_call

    g = load_graph(spark, SF)
    g2, row_df = apply_cypher_call(
        g,
        "CALL algo.labelPropagation('NodeModule', 'DEPENDS_ON', "
        "{iterations:5, write:true, writeProperty:'community'}) "
        "YIELD nodes, iterations",
    )
    row = row_df.collect()[0]
    assert row["iterations"] == 5 and row["nodes"] > 0
    top = run_cypher(
        g2,
        "MATCH (n:NodeModule) RETURN n.community AS community, count(*) AS n "
        "ORDER BY n DESC, community LIMIT 1",
    ).collect()[0]
    assert top["n"] > 0


def test_row_carrying_with_chain(spark):
    """Round-5 WITH pipeline (VERDICT r4 item 5): bare node vars carried
    by id across WITH, trailing WHERE over the projected rows (incl.
    vertex props rejoined on demand), and continued MATCH joining on
    the carried variable — cross-checked against hand-built plans."""
    g = load_graph(spark, SF)

    # WITH m, count(d) AS deps WHERE deps >= 2 MATCH ... (HAVING form)
    got = run_cypher(
        g,
        "MATCH (m:NodeModule)-[:DEPENDS_ON]->(d:NodeModule) "
        "WITH m, count(d) AS deps WHERE deps >= 2 "
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m) "
        "RETURN m.name AS module_name, deps, count(r) AS repos",
    )
    mm = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON")
        & (F.col("src_label") == "NodeModule")
        & (F.col("dst_label") == "NodeModule")
    )
    deps = (
        mm.groupBy(F.col("src").alias("mid"))
        .agg(F.count("*").alias("deps"))
        .filter(F.col("deps") >= 2)
    )
    rm = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON") & (F.col("src_label") == "GitRepo")
    ).select(F.col("dst").alias("mid"))
    names = g.vertices.select(F.col("id").alias("mid"), F.col("name").alias("module_name"))
    want = (
        deps.join(rm, "mid")
        .join(names, "mid")
        .groupBy("module_name", "deps")
        .agg(F.count("*").alias("repos"))
    )
    assert _rows(got) == _rows(want)

    # WHERE on a carried node var's vertex property (rejoined on demand)
    got2 = run_cypher(
        g,
        "MATCH (u:GitUser)-[:OWNS]->(r:GitRepo) "
        "WITH u, r WHERE r.score > 100000 "
        "MATCH (r)-[:DEPENDS_ON]->(m:NodeModule) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    rich = g.vertices.filter(
        (F.col("label") == "GitRepo") & (F.col("score") > 100000)
    ).select(F.col("id").alias("rid"))
    owns = g.edges.filter(F.col("rel_type") == "OWNS").select(F.col("dst").alias("rid"))
    dep = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON") & (F.col("dst_label") == "NodeModule")
    ).select(F.col("src").alias("rid"))
    want2 = owns.join(rich, "rid").join(dep, "rid").count()
    assert got2 == want2

    # chained WITH + final RETURN of a carried var's property: row
    # multiplicity is preserved (Cypher keeps duplicate rows)
    got3 = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) "
        "WITH m WHERE m.score > 1500 WITH m "
        "RETURN m.name AS name ORDER BY name",
    )
    pricey = g.vertices.filter(
        (F.col("label") == "NodeModule") & (F.col("score") > 1500)
    ).select(F.col("id").alias("dst"), "name")
    want3 = (
        g.edges.filter(
            (F.col("rel_type") == "DEPENDS_ON") & (F.col("dst_label") == "NodeModule")
        )
        .join(pricey, "dst")
        .select("name")
        .orderBy("name")
    )
    assert [tuple(r) for r in got3.collect()] == [tuple(r) for r in want3.collect()]


def test_with_topk_pipeline(spark):
    """Mid-pipeline top-k (round 5): WITH ... ORDER BY ... LIMIT n
    selects the working set BEFORE the next MATCH expands it — the
    ORDER BY references a node property that did not survive the
    aggregate (rejoined on the carried id), and SKIP works too."""
    g = load_graph(spark, SF)
    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) "
        "WITH m, count(r) AS deg ORDER BY deg DESC, m.name, id(m) LIMIT 5 "
        "MATCH (m)-[:DEPENDS_ON]->(s:NodeModule) "
        "RETURN m.name AS module_name, deg, count(s) AS subdeps "
        "ORDER BY deg DESC, module_name",
    )
    names = g.vertices.select(F.col("id").alias("mid"), "name")
    deg = (
        g.edges.filter(
            (F.col("rel_type") == "DEPENDS_ON")
            & (F.col("src_label") == "GitRepo")
            & (F.col("dst_label") == "NodeModule")
        )
        .groupBy(F.col("dst").alias("mid"))
        .agg(F.count("*").alias("deg"))
    )
    top5 = (
        deg.join(names, "mid")
        .orderBy(F.desc("deg"), F.asc("name"), F.asc("mid"))
        .limit(5)
    )
    sub = g.edges.filter(
        (F.col("rel_type") == "DEPENDS_ON") & (F.col("dst_label") == "NodeModule")
    ).select(F.col("src").alias("mid"))
    want = (
        top5.join(sub, "mid")
        .groupBy(F.col("name").alias("module_name"), "deg")
        .agg(F.count("*").alias("subdeps"))
        .orderBy(F.desc("deg"), F.asc("module_name"))
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_unwind_literal_and_collected(spark):
    """UNWIND (round 5): literal lists explode into rows; a collected
    list carried through WITH round-trips back to its source rows."""
    g = load_graph(spark, SF)
    r = run_cypher(g, "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
    assert [t["x"] for t in r.collect()] == [1, 2, 3]

    n = run_cypher(
        g, "MATCH (m:NodeModule) UNWIND [1, 2] AS k RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert n == 2 * g.vertices.filter(F.col("label") == "NodeModule").count()

    got = run_cypher(
        g,
        "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) WHERE id(r) < 1000 "
        "WITH id(r) AS rid, collect(m.name) AS names "
        "UNWIND names AS name "
        "RETURN name, count(*) AS n ORDER BY n DESC, name LIMIT 10",
    )
    nm = g.vertices.select(F.col("id").alias("dst"), "name")
    want = (
        g.edges.filter(
            (F.col("rel_type") == "DEPENDS_ON")
            & (F.col("src_label") == "GitRepo")
            & (F.col("dst_label") == "NodeModule")
            & (F.col("src") < 1000)
        )
        .join(nm, "dst")
        .groupBy("name")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("name"))
        .limit(10)
    )
    assert [tuple(x) for x in got.collect()] == [tuple(x) for x in want.collect()]

    with pytest.raises(ValueError, match="not a carried list"):
        run_cypher(g, "MATCH (m) UNWIND nope AS x RETURN count(*) AS n")


def test_optional_match_after_with_keeps_zero_match_rows(spark):
    """Code-review r5: OPTIONAL MATCH leading a segment after a
    row-carrying WITH must LEFT-join onto the carried rows — a carried
    row with zero matches survives with nulls, exactly Neo4j."""
    from github_miner_spark.graph.model import PropertyGraph

    edges = spark.createDataFrame(
        [(1, 10, "DEPENDS_ON", "GitRepo", "NodeModule", None)],
        "src bigint, dst bigint, rel_type string, src_label string, dst_label string, version string",
    )
    vertices = spark.createDataFrame(
        [(1, "GitRepo", "A"), (2, "GitRepo", "B"), (10, "NodeModule", "m")],
        "id bigint, label string, name string",
    )
    g = PropertyGraph(vertices, edges)
    got = sorted(
        map(
            tuple,
            run_cypher(
                g,
                "MATCH (a:GitRepo) WITH a "
                "OPTIONAL MATCH (a)-[:DEPENDS_ON]->(b:NodeModule) "
                "RETURN a.name AS name, count(b) AS n",
            ).collect(),
        )
    )
    assert got == [("A", 1), ("B", 0)]


def test_unwind_empty_literal_is_zero_rows(spark):
    """Neo4j: UNWIND [] produces zero rows (not an error)."""
    from github_miner_spark.graph.model import PropertyGraph

    vdf = spark.createDataFrame([(1, "X", "a")], "id bigint, label string, name string")
    edf = spark.createDataFrame(
        [],
        "src bigint, dst bigint, rel_type string, src_label string, dst_label string, version string",
    )
    g = PropertyGraph(vdf, edf)
    assert run_cypher(g, "UNWIND [] AS x RETURN x").collect() == []
    n = run_cypher(g, "UNWIND [] AS x RETURN count(*) AS n").collect()[0]["n"]
    assert n == 0


def test_repeat_write_true_call_overwrites_property(spark):
    """ADVICE r11 (medium): re-running the same CALL algo.* write:true
    on ONE graph object is legal in Neo4j, which OVERWRITES the
    property. The second commit must replace the vertex column, not
    left-join a second identically-named one that poisons every later
    property read with AMBIGUOUS_REFERENCE."""
    g = load_graph(spark, SF)
    call = (
        "CALL algo.scc('NodeModule', 'DEPENDS_ON', "
        "{write:true, writeProperty:'partition'}) YIELD setCount"
    )
    readback = (
        "MATCH (n:NodeModule) RETURN n.partition AS partition, "
        "count(*) AS n ORDER BY n DESC, partition LIMIT 5"
    )
    run_cypher(g, call)
    want = run_cypher(g, readback).collect()
    run_cypher(g, call)  # the repeat write — reproduced the r11 failure
    assert g.vertices.columns.count("partition") == 1
    assert run_cypher(g, readback).collect() == want

    # direct with_vertex_property repeats behave the same way
    from github_miner_spark.graph.mutations import with_vertex_property

    vals1 = g.vertices.select("id", F.lit(1).alias("mark"))
    vals2 = g.vertices.select("id", F.lit(2).alias("mark")).limit(1)
    g2 = with_vertex_property(load_graph(spark, SF), "mark", vals1)
    g2 = with_vertex_property(g2, "mark", vals2)
    assert g2.vertices.columns.count("mark") == 1
    # overwrite semantics: vertices outside the NEW values frame reset
    # to NULL (documented divergence from Neo4j's per-node retention)
    marks = set(r["mark"] for r in g2.vertices.select("mark").distinct().collect())
    assert marks == {2, None}


def test_escaped_quotes_survive_script_split(spark):
    """ADVICE r11 (low): a string literal containing a backslash-escaped
    quote must not close the quote early in _split_top_level — a ';'
    inside the literal is content, not a statement separator — and the
    literal parses to its unescaped value."""
    from github_miner_spark.cypher import _literal, _split_top_level
    from github_miner_spark.graph.model import PropertyGraph

    stmts = _split_top_level(
        "MATCH (n {name: 'it\\'s; fine'}) RETURN n.name AS x; RETURN 1 AS y", ";"
    )
    assert len(stmts) == 2
    assert "it\\'s; fine" in stmts[0]
    assert _literal("'it\\'s; fine'") == "it's; fine"
    assert _literal('"a\\\\b"') == "a\\b"
    # unescaped backslashes that do not precede a quote pass through
    assert _literal("'a\\b'") == "a\\b"

    # end to end: the props-map equality predicate sees the unescaped
    # value, and the script still splits into two statements
    vdf = spark.createDataFrame(
        [(1, "X", "it's; fine"), (2, "X", "other")],
        "id bigint, label string, name string",
    )
    edf = spark.createDataFrame(
        [],
        "src bigint, dst bigint, rel_type string, src_label string, dst_label string, version string",
    )
    g = PropertyGraph(vdf, edf)
    got = run_cypher(
        g,
        "MATCH (n {name: 'it\\'s; fine'}) RETURN count(*) AS n; "
        "MATCH (n {name: 'it\\'s; fine'}) RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in got] == ["it's; fine"]
