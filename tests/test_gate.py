"""The execution-path gate (``github_miner_spark/gate.py``).

- a Spark-free decision table: every ladder at each rung's limit and
  one row past it;
- one parity case per ``LIMITS`` key: the public operator returns the
  same rows on every path its ladder can take;
- a source guard: no per-call ``*_threshold`` knobs, no retired
  loop-tuning parameters on the graph operators, no retired names.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from github_miner_spark.gate import LIMITS, choose_path
from tests.gate_utils import only

M = 1_000_000
D, T, X = "driver", "task", "distributed"

# gate -> {n_rows: path}
DECISIONS: dict[str, dict[int, str]] = {
    # one task rung: the twin over the whole input in one task
    "pagerank": {5 * M: T, 5 * M + 1: X},
    "connected_components": {5 * M: T, 5 * M + 1: X},
    "strongly_connected_components": {5 * M: T, 5 * M + 1: X},
    "scc_component": {5 * M: T, 5 * M + 1: X},
    "louvain": {5 * M: T, 5 * M + 1: X},
    "modularity": {2 * M: D, 2 * M + 1: X},
    "label_propagation": {2 * M: T, 2 * M + 1: X},
    "coreness": {5 * M: T, 5 * M + 1: X},
    # ... and the all-roots kernels
    "betweenness_centrality": {5 * M: T, 5 * M + 1: X},
    "betweenness_backward": {2 * M: T, 2 * M + 1: X},
    "closure_path_counts": {5 * M: T, 5 * M + 1: X},
    "bfs_depths": {5 * M: T, 5 * M + 1: X},
    "all_shortest_paths_multi": {5 * M: T, 5 * M + 1: X},
    "enumerate_simple_paths": {5 * M: T, 5 * M + 1: X},
    "weighted_sssp": {5 * M: T, 5 * M + 1: X},
    # ... and ANF's whole-graph kernel
    "anf": {5 * M: T, 5 * M + 1: X},
    # the single-window corpus ranks
    "corpus_zipf_fit": {1 * M: D, 1 * M + 1: X},
    "kmv_sketch": {1 * M: D, 1 * M + 1: X},
}

def test_decision_table_covers_every_rung():
    assert set(DECISIONS) == set(LIMITS)
    for gate, ladder in LIMITS.items():
        for _path, limit in ladder:
            assert {limit, limit + 1} <= set(DECISIONS[gate]), gate


@pytest.mark.parametrize("past_limit", [False, True])
def test_choose_path_matches_decision_table(past_limit):
    """At a rung's limit that rung runs; one row past it, the next rung
    (or the distributed plan) does."""
    checked = 0
    for gate, rows in DECISIONS.items():
        limits = {limit for _path, limit in LIMITS[gate]}
        for n, want in rows.items():
            if (n not in limits) != past_limit:
                continue
            assert choose_path(gate, n) == want, (gate, n)
            checked += 1
    assert checked >= len(DECISIONS)


def test_no_gate_holds_driver_and_task_rungs():
    """A gate with a task kernel runs its twin there; a driver rung
    beside it is a second in-process strategy, only more code."""
    both = {
        gate
        for gate, ladder in LIMITS.items()
        if {D, T} <= {path for path, _ in ladder}
    }
    assert not both, both


def test_only_rejects_a_path_the_ladder_lacks():
    with pytest.raises(ValueError, match="no 'driver' rung"):
        only(louvain="driver")
    with pytest.raises(ValueError, match="no 'driver' rung"):
        only(label_propagation="driver")
    with only(louvain="distributed"):
        assert LIMITS["louvain"] == ()
    with only(louvain="task"):
        assert LIMITS["louvain"] == ((T, 5 * M),)


def test_empty_ladder_is_distributed(monkeypatch):
    monkeypatch.setitem(LIMITS, "pagerank", ())
    assert choose_path("pagerank", 0) == X


# ---------------------------------------------------------------------------
# Parity: every reachable path of every gate returns the same rows
# ---------------------------------------------------------------------------

SF = "/root/testdata/sf0.001"
CYCLIC = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6), (6, 7),
    (8, 8), (9, 10), (1, 4), (2, 6),
]
# acyclic, with a parallel 1->2 edge (path multiplicity)
DAG = [(1, 2), (1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (1, 5), (2, 3)]
# two 4-cliques joined by one bridge
CLIQUES = [
    (a, b) for grp in ((1, 2, 3, 4), (5, 6, 7, 8)) for a in grp for b in grp if a < b
] + [(4, 5)]
WEIGHTED = [(1, 2, 1.0), (2, 3, 0.5), (3, 1, 0.25), (3, 4, 2.0), (1, 4, 4.0), (4, 5, 1.5)]


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src bigint, dst bigint"
    )


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _pagerank(spark):
    from github_miner_spark.graph.algorithms import pagerank

    return {r.id: r.rank for r in pagerank(_edges(spark, CYCLIC), iterations=10).collect()}


def _connected_components(spark):
    from github_miner_spark.graph.algorithms import connected_components

    return _rows(connected_components(_edges(spark, CYCLIC)))


def _scc(spark):
    from github_miner_spark.graph.algorithms import strongly_connected_components

    return _rows(strongly_connected_components(_edges(spark, CYCLIC)))


def _louvain(spark):
    from github_miner_spark.graph.algorithms import louvain

    return _rows(louvain(_edges(spark, CLIQUES), max_sweeps=3, levels=2))


def _label_propagation(spark):
    from github_miner_spark.graph.algorithms import label_propagation

    return _rows(label_propagation(_edges(spark, CLIQUES), iterations=5))


def _coreness(spark):
    from github_miner_spark.graph.algorithms import coreness

    return _rows(coreness(_edges(spark, CLIQUES + CYCLIC)))


def _betweenness(spark):
    from github_miner_spark.graph.algorithms import betweenness_centrality

    bc = betweenness_centrality(_edges(spark, CYCLIC), roots=[1, 2, 3, 5])
    return {r.id: r.betweenness for r in bc.collect()}


def _closure(spark):
    from github_miner_spark.graph.paths import closure_path_counts

    return _rows(closure_path_counts(_edges(spark, DAG), roots=[1, 2]))


def _bfs_depths(spark):
    from github_miner_spark.graph.paths import bfs_depths

    return _rows(bfs_depths(_edges(spark, CYCLIC), roots=[1, 5]))


def _asp(spark):
    from github_miner_spark.graph.paths import all_shortest_paths_multi

    return _rows(all_shortest_paths_multi(_edges(spark, DAG), 1, [1, 4, 5]))


def _enumerate(spark):
    from github_miner_spark.graph.paths import enumerate_simple_paths

    return _rows(enumerate_simple_paths(_edges(spark, DAG), 1))


def _sssp(spark):
    from github_miner_spark.graph.paths import weighted_sssp

    e = spark.createDataFrame(WEIGHTED, "src bigint, dst bigint, w double")
    return _rows(weighted_sssp(e, 1))


def _query(name):
    def run(spark):
        from github_miner_spark import registry

        return _rows(registry.all_specs()[name].spark(spark, SF))

    return run


# gate -> (operator run, other gates' overrides that route the call to it)
PARITY_CASES = {
    "pagerank": (_pagerank, {}),
    "connected_components": (_connected_components, {}),
    "strongly_connected_components": (_scc, {}),
    "scc_component": (_scc, {"strongly_connected_components": ()}),
    "louvain": (_louvain, {}),
    "modularity": (_query("louvain_communities"), {}),
    "label_propagation": (_label_propagation, {}),
    "coreness": (_coreness, {}),
    "betweenness_centrality": (_betweenness, {}),
    "betweenness_backward": (_betweenness, {"betweenness_centrality": ()}),
    "closure_path_counts": (_closure, {}),
    "bfs_depths": (_bfs_depths, {}),
    "all_shortest_paths_multi": (_asp, {}),
    "enumerate_simple_paths": (_enumerate, {}),
    "weighted_sssp": (_sssp, {}),
    "anf": (_query("anf_effective_diameter"), {}),
    "corpus_zipf_fit": (_query("corpus_zipf_fit"), {}),
    "kmv_sketch": (_query("kmv_set_operation_estimates"), {}),
}


def test_parity_cases_cover_every_gate():
    assert set(PARITY_CASES) == set(LIMITS)


@pytest.mark.parametrize("gate", sorted(PARITY_CASES))
def test_every_path_returns_the_same_rows(spark, monkeypatch, gate):
    run, routes = PARITY_CASES[gate]
    for other, ladder in routes.items():
        monkeypatch.setitem(LIMITS, other, ladder)
    ladder = LIMITS[gate]
    got = {}
    for path in [p for p, _ in ladder] + [X]:
        monkeypatch.setitem(LIMITS, gate, tuple(r for r in ladder if r[0] == path))
        got[path] = run(spark)
    base = got.pop(X)
    assert base, "empty fixture result"
    for path, rows in got.items():
        if isinstance(base, (dict, float)):
            assert rows == pytest.approx(base, rel=1e-9), path
        else:
            assert rows == base, path


def test_parity_fixtures_are_nontrivial(spark):
    """The SCC fixture has multi-vertex components and the Louvain one
    splits in two, so parity above is not vacuous."""
    from github_miner_spark.graph.algorithms import louvain

    comps = {c for _v, c in _scc(spark)}
    assert len(comps) < len({v for e in CYCLIC for v in e})
    comm = louvain(_edges(spark, CLIQUES), max_sweeps=3, levels=2)
    assert comm.select(F.countDistinct("community")).first()[0] == 2


# ---------------------------------------------------------------------------
# Source guard
# ---------------------------------------------------------------------------

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "github_miner_spark"
RETIRED = (
    "_" + "gate",
    "SPARK_GRAFT_CLOSURE_" + "DRIVER_EDGES",
    "SPARK_GRAFT_FORCE_" + "DISTRIBUTED",
    "_pagerank_" + "driver",
    "_brandes_" + "root_group",
    "_bfs_root_" + "group_factory",
    "ROOT_REPLICATION_" + "BUDGET",
    "per_root_" + "task",
)
# physical-tuning knobs the graph operators no longer take: the loop
# shuffle width, barrier cadences and Louvain's sweep count are fixed
# inside graph/, never chosen per call
RETIRED_GRAPH_PARAMS = {
    "loop_shuffle_width",
    "broadcast_ranks",
    "barrier_every",
    "early_exit",
    "checkpoint_every",
    "checkpoint_edges",
    "rows_per_partition",
    "floor",
}
# retired from one operator only: other graph operators keep the name
RETIRED_OPERATOR_PARAMS = {"pagerank": {"vertices"}, "reachable_set": {"broadcast_frontier"}}


def _package_modules():
    return sorted(PACKAGE.rglob("*.py"))


def test_no_threshold_parameters():
    bad = []
    for path in _package_modules():
        in_graph = path.parent == PACKAGE / "graph"
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                retired = set()
                if in_graph:
                    retired = RETIRED_GRAPH_PARAMS | RETIRED_OPERATOR_PARAMS.get(
                        getattr(node, "name", ""), set()
                    )
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg.endswith("_threshold") or arg.arg in retired:
                        bad.append(f"{path.relative_to(ROOT)}:{node.lineno} {arg.arg}")
    assert not bad, bad


def test_retired_gate_names_are_gone():
    sources = _package_modules() + sorted((ROOT / "tests").glob("*.py"))
    sources += sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py", ROOT / "README.md"]
    hits = [
        f"{p.relative_to(ROOT)}: {name}"
        for p in sources
        for name in RETIRED
        if re.search(rf"\b{name}\b", p.read_text())
    ]
    assert not hits, hits
