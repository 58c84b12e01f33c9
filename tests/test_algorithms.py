"""Unit tests for iterative graph algorithms on hand-computable graphs,
plus a numpy cross-check for PageRank (the reference pins Neo4j's
non-normalized Brin-Page form: rank = (1-d) + d*sum(rank_u/outdeg_u))."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from github_miner_spark.graph.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    strongly_connected_components,
)
from tests.gate_utils import only


def edges_df(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "src bigint, dst bigint")


def numpy_pagerank(pairs, n_ids, iterations, damping):
    ids = sorted(n_ids)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    outdeg = np.zeros(n)
    for a, _ in pairs:
        outdeg[idx[a]] += 1
    rank = np.ones(n)
    for _ in range(iterations):
        msg = np.zeros(n)
        for a, b in pairs:
            msg[idx[b]] += rank[idx[a]] / outdeg[idx[a]]
        rank = (1 - damping) + damping * msg
    return {v: rank[idx[v]] for v in ids}


@pytest.mark.parametrize(
    "pairs",
    [
        [(1, 2), (2, 3), (3, 1)],  # cycle
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 1), (6, 1)],  # mixed
    ],
)
def test_pagerank_matches_numpy(spark, pairs):
    e = edges_df(spark, pairs)
    # default ladder: the task-local numpy kernel at this size
    got = {r.id: r.rank for r in pagerank(e, iterations=15, damping=0.85).collect()}
    # task rung only: the task-local numpy kernel
    with only(pagerank="task"):
        task = {
            r.id: r.rank
            for r in pagerank(e, iterations=15, damping=0.85).collect()
        }
    # empty ladder: the distributed power-iteration loop
    with only(pagerank="distributed"):
        dist = {
            r.id: r.rank
            for r in pagerank(e, iterations=15, damping=0.85).collect()
        }
    ids = {a for a, _ in pairs} | {b for _, b in pairs}
    want = numpy_pagerank(pairs, ids, 15, 0.85)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9), f"node {v}"
        assert task[v] == pytest.approx(want[v], rel=1e-9), f"node {v} (task)"
        assert dist[v] == pytest.approx(want[v], rel=1e-9), f"node {v} (distributed)"


def test_connected_components_two_islands(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    got = {r.id: r.component for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_long_path_converges(spark):
    # A 501-node path: diameter 500, far beyond round-1's 200-iteration
    # label-propagation cap (which silently returned wrong labels here).
    # Star contraction needs O(log n) rounds, so max_iter=50 is plenty;
    # non-convergence now raises instead of returning bad components.
    n = 500
    e = edges_df(spark, [(i, i + 1) for i in range(n)])
    with only(connected_components="distributed"):
        got = {r.id: r.component for r in connected_components(e).collect()}
    assert got == {i: 0 for i in range(n + 1)}
    # whole-graph task kernel (the SCC whole-core pattern): identical
    # labels from the single-group union-find path
    with only(connected_components="task"):
        task = {r.id: r.component for r in connected_components(e).collect()}
    assert task == got


def test_connected_components_reversed_path_and_star(spark):
    # min id in the middle; edges pointing "backwards"
    e = edges_df(spark, [(5, 4), (4, 3), (3, 0), (0, 9), (9, 8), (7, 0)])
    got = {r.id: r.component for r in connected_components(e).collect()}
    assert got == {v: 0 for v in (0, 3, 4, 5, 7, 8, 9)}


def test_scc_textbook(spark):
    # SCCs: {1,2,3} (cycle), {4,5} (2-cycle), {6} (sink)
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)])
    got = {r.id: r.component for r in strongly_connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_scc_dag_all_singletons(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3)])
    got = {r.id: r.component for r in strongly_connected_components(e).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_scc_self_loop_singleton(spark):
    e = edges_df(spark, [(1, 1), (1, 2), (2, 3), (3, 2)])
    got = {r.id: r.component for r in strongly_connected_components(e).collect()}
    assert got == {1: 1, 2: 2, 3: 2}


def test_label_propagation_two_cliques(spark):
    clique1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    clique2 = [(a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a < b]
    e = edges_df(spark, clique1 + clique2 + [(3, 10)])  # weak bridge
    got = {r.id: r.community for r in label_propagation(e, iterations=10).collect()}
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1


def _planted(spark, cliques):
    """Edge DF of fully-connected cliques joined in a chain by single
    bridge edges."""
    rows = []
    for members in cliques:
        for i in members:
            for j in members:
                if i < j:
                    rows.append((i, j))
    for a, b in zip(cliques, cliques[1:]):
        rows.append((a[-1], b[0]))
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def test_louvain_recovers_planted_cliques(spark):
    from github_miner_spark.graph.algorithms import louvain, modularity

    cliques = [list(range(k, k + 5)) for k in (0, 10, 20)]
    edges = _planted(spark, cliques)
    comm = louvain(edges, max_sweeps=6, levels=2)
    got = {r["id"]: r["community"] for r in comm.collect()}
    for members in cliques:
        assert len({got[m] for m in members}) == 1, f"clique {members} split: {got}"
    assert len(set(got.values())) == 3
    q = modularity(edges, comm)
    assert q > 0.45, q


def test_modularity_singletons_negative_or_zero(spark):
    from github_miner_spark.graph.algorithms import modularity

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    singletons = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id bigint, community bigint"
    )
    assert modularity(edges, singletons) <= 0.0


def test_all_shortest_paths_diamond(spark):
    from github_miner_spark.graph.paths import all_shortest_paths

    # 1 -> {2,3} -> 4 -> 5, plus a longer detour 1->6->7->4: two shortest
    # 1->*4 paths of length 2, detour excluded
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (1, 6), (6, 7), (7, 4)],
        "src bigint, dst bigint",
    )
    got = sorted(tuple(r["path"]) for r in all_shortest_paths(edges, 1, 4).collect())
    assert got == [(1, 2, 4), (1, 3, 4)]
    lengths = {r["length"] for r in all_shortest_paths(edges, 1, 4).collect()}
    assert lengths == {2}
    assert all_shortest_paths(edges, 5, 1).count() == 0  # unreachable


def test_scc_distributed_path_matches_hybrid(spark):
    """Force the distributed Orzan-coloring path (emptied ladders) and
    check it agrees with the trim+Tarjan hybrid on a graph with
    multiple non-trivial SCCs hanging off a DAG."""
    from github_miner_spark.graph.algorithms import strongly_connected_components

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 1),          # 3-cycle
            (3, 4), (4, 5), (5, 4),          # 2-cycle downstream
            (5, 6), (6, 7),                  # DAG tail
            (8, 8),                          # self-loop
            (9, 10),                         # isolated DAG edge
        ],
        "src bigint, dst bigint",
    )
    # the default ladder: the whole-input Tarjan task
    hybrid = {(r["id"], r["component"]) for r in strongly_connected_components(edges).collect()}
    # second path: every SCC and WCC rung off, the per-WCC task-local
    # Tarjan finish included, forcing the full FW-BW coloring loop
    with only(
        strongly_connected_components="distributed",
        scc_component="distributed",
        connected_components="distributed",
    ):
        colored = {
            (r["id"], r["component"])
            for r in strongly_connected_components(edges).collect()
        }
    assert hybrid == colored
    # third path: the single-group shortcuts off — WCC star-contraction
    # split + per-WCC task kernels (the scaling lane's configuration)
    with only(
        strongly_connected_components="distributed",
        connected_components="distributed",
    ):
        split = {
            (r["id"], r["component"])
            for r in strongly_connected_components(edges).collect()
        }
    assert hybrid == split
    comp = dict(hybrid)
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert len({comp[6], comp[7], comp[8], comp[9], comp[10]}) == 5


def test_louvain_modularity_floor_on_bench_slice(spark):
    """Quality contract for the 3-sweep speed trade (round-1 commit
    91db594 cut sweeps 4->3 accepting Q 0.493 vs 0.499): the bench-slice
    modularity must stay >= 0.47. If a future speed tweak erodes below
    this, the trade is no longer acceptable — fail loudly."""
    from github_miner_spark.graph.algorithms import louvain, modularity
    from github_miner_spark.graph.store import load_graph

    mm = load_graph(spark, "/root/testdata/sf0.01").module_dep_edges()
    sub = mm.filter(
        (F.col("src") >= 1002) & (F.col("src") < 5002)
        & (F.col("dst") >= 1002) & (F.col("dst") < 5002)
    )
    comm = louvain(sub, max_sweeps=3, levels=2)
    q = modularity(sub, comm)
    assert q >= 0.47, f"bench-slice modularity regressed: Q={q:.4f}"


def test_connected_components_converges_on_final_round(spark):
    """ADVICE r2: convergence reached DURING the last permitted round
    must not raise — max_iter=3 is the empirically minimal budget for
    this 9-vertex path (the round-8 star-forest probe detects the
    fixpoint the round it is REACHED, one round earlier than the old
    edge-set-equality check which needed a confirming no-change
    round), so any off-by-one re-raises here."""
    e = edges_df(spark, [(i, i + 1) for i in range(1, 9)])
    with only(connected_components="distributed"):
        got = {r.id: r.component for r in connected_components(e, max_iter=3).collect()}
        assert set(got.values()) == {1}
        with pytest.raises(RuntimeError):
            connected_components(e, max_iter=2)


def test_scc_final_peel_round_not_forfeited(spark):
    """ADVICE r2: the final permitted peel round used to raise before
    being attempted. With every SCC and WCC task rung off, max_iter=4
    is the minimal budget for this chain of two 2-cycles: at 3 the
    forward coloring runs out of rounds and raises."""
    e = edges_df(spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)])
    with only(
        strongly_connected_components="distributed",
        scc_component="distributed",
        connected_components="distributed",
    ):
        got = {
            r.id: r.component
            for r in strongly_connected_components(e, max_iter=4).collect()
        }
        with pytest.raises(RuntimeError):
            strongly_connected_components(e, max_iter=3).collect()
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_louvain_driver_path_matches_distributed(spark):
    """The hybrid gate must be invisible: the semi-sync sweep twin in
    the task kernel and the distributed half-sweeps must emit
    the identical assignment on the real sf0.001 module graph."""
    from github_miner_spark.graph.algorithms import louvain
    from github_miner_spark.graph.store import load_graph

    g = load_graph(spark, "/root/testdata/sf0.001")
    mm = g.module_dep_edges()
    def run():
        return sorted(map(tuple, louvain(mm, max_sweeps=3, levels=2).collect()))

    # the default ladder: the task-local kernel path
    fast = run()
    # empty ladder: the distributed half-sweep schedule
    with only(louvain="distributed"):
        slow = run()
    assert len(fast) > 0
    assert fast == slow


def test_label_propagation_driver_path_matches_distributed(spark):
    from github_miner_spark.graph.store import load_graph

    g = load_graph(spark, "/root/testdata/sf0.001")
    mm = g.module_dep_edges()
    # the default ladder: the twin sweep in one task
    fast = sorted(map(tuple, label_propagation(mm, iterations=8).collect()))
    with only(label_propagation="distributed"):
        slow = sorted(map(tuple, label_propagation(mm, iterations=8).collect()))
    assert fast == slow and len(fast) > 0


def test_personalized_pagerank_driver_matches_distributed_edge_cases(spark):
    """Duplicate and absent personalization sources: the task kernel's
    numpy matvec must mirror the distributed semantics exactly — p0
    divides by the source LIST length (duplicates included) and absent
    ids simply receive no restart mass, no renormalization."""
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (1, 4)])
    srcs = [1, 1, 99]  # duplicate + absent
    fast = {r.id: r.rank for r in pagerank(e, iterations=10, sources=srcs).collect()}
    with only(pagerank="task"):
        task = {r.id: r.rank for r in pagerank(e, iterations=10, sources=srcs).collect()}
    with only(pagerank="distributed"):
        dist = {r.id: r.rank for r in pagerank(e, iterations=10, sources=srcs).collect()}
    assert set(fast) == set(dist) == set(task)
    for v in fast:
        assert fast[v] == pytest.approx(dist[v], rel=1e-12), v
        assert fast[v] == pytest.approx(task[v], rel=1e-12), v


def test_louvain_driver_matches_distributed_sf001(spark):
    """VERDICT r4 item 7: hybrid-gate parity pinned at the 10x bigger
    sf0.01 slice — gate divergence at a larger graph was the likeliest
    silent-wrong risk left. Assignments are integers, so the two paths
    must agree exactly, not just to 6dp."""
    from github_miner_spark.graph.algorithms import louvain
    from github_miner_spark.graph.store import load_graph

    mm = load_graph(spark, "/root/testdata/sf0.01").module_dep_edges()
    def run():
        return sorted(map(tuple, louvain(mm, max_sweeps=3, levels=2).collect()))

    # the default ladder: the task-local kernel path
    fast = run()
    # empty ladder: the distributed half-sweep schedule
    with only(louvain="distributed"):
        slow = run()
    assert len(fast) > 0
    assert fast == slow


def test_label_propagation_driver_matches_distributed_sf001(spark):
    from github_miner_spark.graph.store import load_graph

    mm = load_graph(spark, "/root/testdata/sf0.01").module_dep_edges()
    # the default ladder: the twin sweep in one task
    fast = sorted(map(tuple, label_propagation(mm, iterations=8).collect()))
    with only(label_propagation="distributed"):
        slow = sorted(map(tuple, label_propagation(mm, iterations=8).collect()))
    assert fast == slow and len(fast) > 0


def test_distributed_scc_huge_cyclic_core(spark):
    """Adversarial scale for the WCC split (round 5): a ~20k-vertex /
    ~60k-edge graph built from three affine maps i -> a*i+c mod n is
    one giant low-diameter SCC — the trim removes nothing. With the
    whole-input rung off, the second run takes the distributed path:
    the WCC split, then the per-component Tarjan kernel on the one
    60k-edge component. Must match the whole-input Tarjan task
    exactly."""
    from github_miner_spark.graph.algorithms import strongly_connected_components

    n = 20_000
    base = spark.range(n)
    parts = [
        base.select(
            F.col("id").alias("src"), ((F.col("id") * a + c) % n).alias("dst")
        )
        for a, c in ((1, 1), (3, 7), (7, 13))  # units mod 20000 -> permutations
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2]).localCheckpoint(eager=True)

    fast = strongly_connected_components(edges)
    fast_rows = sorted(map(tuple, fast.collect()))
    with only(strongly_connected_components="distributed"):
        slow = strongly_connected_components(edges)
        slow_rows = sorted(map(tuple, slow.collect()))
    assert fast_rows == slow_rows
    # the affine maps are permutations (gcd(a, n) = 1), so every vertex
    # lies on a cycle: one giant component expected
    comps = {c for _, c in fast_rows}
    assert len(fast_rows) == n and len(comps) == 1


def test_distributed_scc_fwbw_coloring_on_single_giant_scc(spark):
    """The FW-BW coloring loop (the path past the scc_component gate) on
    a single ~2k-vertex SCC whose WCC split cannot help: every SCC/WCC
    task rung off exercises forward coloring with pointer
    jumping, backward pruning, and re-trim end to end. Must match the
    whole-input Tarjan task exactly."""
    from github_miner_spark.graph.algorithms import strongly_connected_components

    n = 2_000
    base = spark.range(n)
    parts = [
        base.select(
            F.col("id").alias("src"), ((F.col("id") * a + c) % n).alias("dst")
        )
        for a, c in ((1, 1), (3, 7))
    ]
    edges = parts[0].unionByName(parts[1]).localCheckpoint(eager=True)
    fast_rows = sorted(map(tuple, strongly_connected_components(edges).collect()))
    with only(
        strongly_connected_components="distributed",
        scc_component="distributed",
        connected_components="distributed",
    ):
        slow_rows = sorted(map(tuple, strongly_connected_components(edges).collect()))
    assert fast_rows == slow_rows
    assert len(fast_rows) == n and len({c for _, c in fast_rows}) == 1


# ---------------------------------------------------------------------------
# Betweenness centrality (source-sampled Brandes)
# ---------------------------------------------------------------------------


def _nx_style_betweenness(pairs, roots):
    """Independent reference: per-pair shortest-path enumeration by
    BFS-layered DP (no Brandes accumulation), so the property tests
    pin the accumulation algebra against a structurally different
    formulation."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
    bc = defaultdict(float)
    for s in roots:
        # forward: dist + sigma
        dist = {s: 0}
        sigma = {s: 1}
        dq = deque([s])
        order = []
        while dq:
            v = dq.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        # per target t: count, for each interior v, shortest paths
        # through v = sigma(s->v) * sigma_sub(v->t) where sigma_sub is
        # the path count in the SP-DAG from v to t
        spdag = defaultdict(list)
        for v in dist:
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    spdag[v].append(w)
        for t in dist:
            if t == s:
                continue
            # paths v->t inside the SP-DAG, by reverse-depth DP
            cnt_to_t = {t: 1}
            for v in sorted(dist, key=lambda x: -dist[x]):
                if v == t:
                    continue
                cnt_to_t[v] = sum(cnt_to_t.get(w, 0) for w in spdag[v])
            for v in dist:
                if v in (s, t) or cnt_to_t.get(v, 0) == 0:
                    continue
                bc[v] += sigma[v] * cnt_to_t[v] / sigma[t]
    return {k: v for k, v in bc.items() if v > 0}


def test_betweenness_driver_twin_matches_enumeration_reference():
    import random

    from github_miner_spark.graph.algorithms import _brandes_betweenness

    rng = random.Random(0xBE7)
    for trial in range(30):
        n = rng.randint(2, 14)
        m = rng.randint(1, 3 * n)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        roots = sorted({a for a, _ in pairs})[: rng.randint(1, 5)]
        got = _brandes_betweenness(pairs, roots)
        want = _nx_style_betweenness(pairs, roots)
        assert set(got) == set(want), (trial, pairs, roots)
        for v in want:
            assert got[v] == pytest.approx(want[v], rel=1e-9), (trial, v, pairs)


def test_betweenness_distributed_matches_driver(spark):
    """Hybrid gate invisible: the task kernel and the distributed
    Brandes sweeps equal the Python twin on cyclic + multi-edge +
    diamond shapes."""
    from github_miner_spark.graph.algorithms import (
        _brandes_betweenness,
        betweenness_centrality,
    )

    cases = [
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (2, 5)],  # cycle + tail
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)],  # diamond + tail
        [(0, 1), (0, 1), (1, 2)],  # parallel edges (multigraph sigma)
        [(5, 6)],  # single edge, no interior
    ]
    for pairs in cases:
        roots = sorted({a for a, _ in pairs})
        e = edges_df(spark, pairs)

        def run():
            return {
                r.id: r.betweenness
                for r in betweenness_centrality(e, roots).collect()
            }

        # the default ladder: every root's Brandes in one task
        fast = run()
        # windowed sweeps with the backward task kernel, and with the
        # backward LOOP fallback — so both distributed shapes stay
        # pinned
        with only(betweenness_centrality="distributed"):
            windowed = run()
            with only(betweenness_backward="distributed"):
                loop = run()
        want = _brandes_betweenness(pairs, roots)
        assert fast == pytest.approx(want, rel=1e-9), pairs
        assert set(windowed) == set(want), pairs
        assert set(loop) == set(want), pairs
        for v in want:
            assert windowed[v] == pytest.approx(want[v], rel=1e-9), (v, pairs)
            assert loop[v] == pytest.approx(want[v], rel=1e-9), (v, pairs)


def test_betweenness_duplicate_roots_count_once(spark):
    """A repeated sampled source contributes ONCE on every path: the
    distributed sweeps merge duplicates structurally, so the entry
    dedups the list and the task kernel's twin (which iterates per
    occurrence) can never be the odd one out."""
    from github_miner_spark.graph.algorithms import (
        _brandes_betweenness,
        betweenness_centrality,
    )

    pairs = [(1, 2), (2, 3), (1, 4), (4, 3), (3, 5)]
    e = edges_df(spark, pairs)
    want = _brandes_betweenness(pairs, [1])
    for path in ("task", "distributed"):
        with only(betweenness_centrality=path):
            got = {
                r.id: r.betweenness
                for r in betweenness_centrality(e, [1, 1]).collect()
            }
        assert got == pytest.approx(want, rel=1e-9), path


def test_betweenness_distributed_random_graphs(spark):
    import random

    from github_miner_spark.graph.algorithms import (
        _brandes_betweenness,
        betweenness_centrality,
    )

    rng = random.Random(0xC0FE)
    for _ in range(3):
        n = rng.randint(5, 12)
        pairs = [
            (a, b)
            for a in range(n)
            for b in range(n)
            if a != b and rng.random() < 0.25
        ]
        if not pairs:
            continue
        roots = sorted({a for a, _ in pairs})[:4]
        e = edges_df(spark, pairs)
        with only(betweenness_centrality="task"):
            slow = {
                r.id: r.betweenness
                for r in betweenness_centrality(e, roots).collect()
            }
        with only(betweenness_centrality="distributed"):
            windowed = {
                r.id: r.betweenness
                for r in betweenness_centrality(e, roots).collect()
            }
        want = _brandes_betweenness(pairs, roots)
        assert set(slow) == set(want), pairs
        assert set(windowed) == set(want), pairs
        for v in want:
            assert slow[v] == pytest.approx(want[v], rel=1e-9), (v, pairs)
            assert windowed[v] == pytest.approx(want[v], rel=1e-9), (v, pairs)


def test_betweenness_windowed_deep_chain_and_diamonds(spark):
    """Windowed-sweep exactness across many window boundaries: a
    30-deep chain of diamonds (two parallel 2-hop routes per stage, so
    sigma doubles every stage and the SP-DAG is non-trivial at every
    depth) forced onto the windowed distributed path. Depth 60 spans
    ~15 forward windows; any min-depth/window-boundary bug shifts
    whole levels and cannot cancel."""
    from github_miner_spark.graph.algorithms import (
        _brandes_betweenness,
        betweenness_centrality,
    )

    pairs = []
    for s in range(30):
        a = 10 * s            # stage entry
        b1, b2 = a + 1, a + 2  # the two middles
        c = 10 * (s + 1)      # next entry
        pairs += [(a, b1), (a, b2), (b1, c), (b2, c)]
    e = edges_df(spark, pairs)
    roots = [0]
    want = _brandes_betweenness(pairs, roots)
    with only(betweenness_centrality="distributed"):
        windowed = {
            r.id: r.betweenness
            for r in betweenness_centrality(e, roots).collect()
        }
    assert set(windowed) == set(want)
    for v in want:
        assert windowed[v] == pytest.approx(want[v], rel=1e-9), v
    # sanity: the middles of the deepest stage carry non-trivial
    # accumulation (each lies on half the 2^29 shortest paths to the
    # final entry), so the parity above is not vacuous
    assert want[10 * 29 + 1] > 0 and want[10 * 29 + 2] > 0


def test_anf_task_kernel_matches_distributed_loop(spark):
    """The ANF register propagation has two paths — the whole-graph
    numpy task kernel (edge set fits one executor task) and the
    windowed distributed max-merge loop — sharing one integer register
    algebra. Bit-parity on the fixture graph: identical rows from
    both, and the h=1 estimate columns are sane (exact_reached >= 2
    for every anchor, rel_error finite)."""
    from github_miner_spark.queries.algorithms_queries import (
        anf_neighborhood_function,
    )

    SF = "/root/testdata/sf0.001"
    task = sorted(map(tuple, anf_neighborhood_function(spark, SF).collect()))
    with only(anf="distributed"):
        loop = sorted(map(tuple, anf_neighborhood_function(spark, SF).collect()))
    assert task == loop
    assert task, "no anchor rows"
    for row in task:
        _mod, _h, exact_reached, buckets_used, est, rel = row
        assert exact_reached >= 2
        assert 1 <= buckets_used <= 32
        assert est > 0 and rel >= 0


def test_anf_effective_diameter_parity_and_semantics(spark):
    """The effective-diameter readout's two dispatch paths (emit-sums
    task kernel vs the shared distributed max-merge loop) must agree
    bit-for-bit, N(h) must be non-decreasing in h, the hmax fraction
    must be exactly 1.0, and the flagged h must be the FIRST one at
    >= 0.9 of N(hmax)."""
    from github_miner_spark.queries.algorithms_queries import (
        anf_effective_diameter,
    )

    SF = "/root/testdata/sf0.001"
    task = sorted(map(tuple, anf_effective_diameter(spark, SF).collect()))
    with only(anf="distributed"):
        loop = sorted(map(tuple, anf_effective_diameter(spark, SF).collect()))
    assert task == loop
    assert [h for h, *_ in task] == [1, 2, 3]
    nfs = [nf for _, nf, _, _ in task]
    assert nfs == sorted(nfs), "N(h) must be non-decreasing"
    assert task[-1][2] == 1.0
    first_over = next(h for h, _, frac, _ in task if frac >= 0.9)
    assert [h for h, _, _, eff in task if eff] == [first_over]
