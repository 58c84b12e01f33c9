"""Property-based checks (hypothesis) for the algorithm cores whose
failure modes are subtle: star-contraction connected components vs a
reference union-find, SCC vs mutual reachability, betweenness vs
shortest-path enumeration (both on both of their paths), label
propagation vs a synchronous sweep and modularity vs Newman's matrix
form (both on both of their paths), and LSH dedup containment vs exact
Jaccard.

Spark actions are slow per example, so example counts are small and
sizes bounded — the value is randomized STRUCTURE (cycles, chains,
hubs, disconnected islands), not volume."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from github_miner_spark.graph.algorithms import connected_components
from tests.gate_utils import only

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find(n_nodes: set[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {v: v for v in n_nodes}

    def root(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to min member id
    comps: dict[int, list[int]] = {}
    for v in n_nodes:
        comps.setdefault(root(v), []).append(v)
    out = {}
    for members in comps.values():
        canon = min(members)
        for v in members:
            out[v] = canon
    return out


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=40
    )
)
@_settings
def test_connected_components_matches_union_find(spark, edges):
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    want = _union_find(nodes, edges)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=6, max_size=30), min_size=2, max_size=8
    )
)
@_settings
def test_minhash_pairs_subset_of_exact_jaccard(spark, texts):
    """Every pair MinHash-LSH accepts must appear in the exact Jaccard
    pair set at the same threshold with the same score — LSH may lose
    recall, never precision."""
    from github_miner_spark.functions.dedup import jaccard_pairs, minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    for r in minhash_lsh_pairs(docs, threshold=0.5).collect():
        key = (r["doc_a"], r["doc_b"])
        assert key in exact, key
        assert exact[key] == r["jaccard"], key


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 5), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_salted_count_is_exact_under_random_skew(spark, vals):
    from github_miner_spark.functions.skew import salted_count

    df = spark.createDataFrame(
        [(int(k), float(v)) for k, v in vals], "dst bigint, v double"
    )
    direct = {
        (r["dst"], r["n"])
        for r in df.groupBy("dst").agg(F.count("*").alias("n")).collect()
    }
    salted = {(r["dst"], r["n"]) for r in salted_count(df, "dst", salts=8).collect()}
    assert direct == salted


def _dag_edges_strategy():
    """Random DAG edges: (a, b) with a < b guarantees acyclicity while
    still producing chains, diamonds, hubs and disconnected islands."""
    return st.lists(
        st.tuples(st.integers(0, 15), st.integers(1, 16))
        .map(lambda t: (min(t[0], t[1] - 1) if t[0] == t[1] else min(t), max(t)))
        .filter(lambda t: t[0] < t[1]),
        min_size=1,
        max_size=30,
        unique=True,
    )


def _count_paths(edges: list[tuple[int, int]], root: int) -> dict[int, int]:
    """Reference DP: number of distinct paths root ->* node (len >= 1),
    topological order over the a<b DAG encoding."""
    from collections import defaultdict

    out = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    paths: dict[int, int] = defaultdict(int)
    # nodes are 0..16 and every edge goes low -> high: iterate in order
    reach = {root: 1}  # paths of length >= 0 from root
    for v in range(0, 17):
        if v not in reach:
            continue
        for w in out[v]:
            reach[w] = reach.get(w, 0) + reach[v]
            paths[w] += reach[v]
    return dict(paths)


@given(edges=_dag_edges_strategy(), root=st.integers(0, 15))
@_settings
def test_closure_path_counts_matches_dp(spark, edges, root):
    """closure_path_counts vs an independent topological-order DP on
    random DAGs — the path-MULTIPLICITY semantics the reference's jest
    corpus pins (321,265 paths vs 347 distinct)."""
    from github_miner_spark.graph.paths import closure_path_counts

    want = _count_paths(edges, root)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    # default gate -> the DP twin in one executor task
    got = {
        r["node"]: r["paths"]
        for r in closure_path_counts(df, roots=[root]).collect()
    }
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    root=st.integers(0, 12),
)
@_settings
def test_bfs_depths_matches_python_bfs_on_cyclic_graphs(spark, edges, root):
    """bfs_depths vs a plain Python BFS on random DIGRAPHS including
    cycles and self-loops — min-depth semantics and cycle safety."""
    from collections import defaultdict, deque

    from github_miner_spark.graph.paths import bfs_depths

    out = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    want: dict[int, int] = {}
    dq = deque([(root, 0)])
    seen = {root}
    while dq:
        v, d = dq.popleft()
        for w in out[v]:
            if w not in seen:
                seen.add(w)
                want[w] = d + 1
                dq.append((w, d + 1))
    # the operator records depth >= 1 only (the root itself is depth 0
    # and omitted) — but a cycle back INTO the root gives it a depth
    if root in [b for _a, b in edges if _a in seen]:
        # reachable back-edge into root: min over discovered depths
        back = min(
            (want.get(a, 0) + 1 if a != root else 1)
            for a, b in edges
            if b == root and (a == root or a in want)
        )
        want[root] = back

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    # default gate -> the BFS twin in one task; an empty ladder forces
    # the distributed loop: BOTH must match the reference
    got_task = {
        r["node"]: r["depth"] for r in bfs_depths(df, roots=[root]).collect()
    }
    with only(bfs_depths="distributed"):
        got_dist = {
            r["node"]: r["depth"]
            for r in bfs_depths(df, roots=[root]).collect()
        }
    assert got_task == want
    assert got_dist == want


def _reach(edges: list[tuple[int, int]]) -> dict[int, set[int]]:
    """Reflexive reachability per vertex by plain graph search."""
    out: dict[int, list[int]] = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
        out.setdefault(b, [])
    reach = {}
    for v in out:
        seen, stack = {v}, [v]
        while stack:
            for w in out[stack.pop()]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        reach[v] = seen
    return reach


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=30
    )
)
@_settings
def test_scc_both_paths_match_mutual_reachability(spark, edges):
    """strongly_connected_components on random digraphs with cycles,
    self-loops and parallel edges: u and v share a component if and
    only if each reaches the other, and the component id is the
    smallest member."""
    from github_miner_spark.graph.algorithms import strongly_connected_components

    reach = _reach(edges)
    want = {v: min(u for u in reach[v] if v in reach[u]) for v in reach}
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    # the default ladder: the whole-input Tarjan task; an empty ladder:
    # the WCC split and its per-component kernels
    task = {r.id: r.component for r in strongly_connected_components(df).collect()}
    with only(strongly_connected_components="distributed"):
        distributed = {
            r.id: r.component for r in strongly_connected_components(df).collect()
        }
    assert task == want
    assert distributed == want


def _enumerated_betweenness(
    edges: list[tuple[int, int]], roots: set[int]
) -> dict[int, float]:
    """Source-sampled betweenness by listing every shortest path: BFS
    depths from each root, then every edge sequence that climbs one
    depth per edge (parallel edges are distinct paths); each interior
    vertex of a root->t path earns 1/(number of root->t paths)."""
    from collections import deque

    bc: dict[int, float] = {}
    for s in roots:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            v = dq.popleft()
            for a, b in edges:
                if a == v and b not in dist:
                    dist[b] = dist[v] + 1
                    dq.append(b)
        paths: dict[int, list[list[int]]] = {s: [[s]]}
        for v in sorted(dist, key=dist.get)[1:]:
            paths[v] = [
                p + [v]
                for a, b in edges
                if b == v and a in dist and dist[a] == dist[v] - 1
                for p in paths[a]
            ]
        for t, ps in paths.items():
            for p in ps if t != s else ():
                for v in p[1:-1]:
                    bc[v] = bc.get(v, 0.0) + 1.0 / len(ps)
    return bc


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=20
    ),
    roots=st.lists(st.integers(0, 7), min_size=1, max_size=4),
)
@_settings
def test_betweenness_both_paths_match_path_enumeration(spark, edges, roots):
    """betweenness_centrality on random digraphs of at most 8 vertices
    with cycles, self-loops and parallel edges, against an enumeration
    of every shortest path; repeated roots count once."""
    from github_miner_spark.graph.algorithms import betweenness_centrality

    want = _enumerated_betweenness(edges, set(roots))
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )

    def run():
        return {
            r.id: r.betweenness
            for r in betweenness_centrality(df, roots).collect()
        }

    task = run()
    with only(betweenness_centrality="distributed"):
        distributed = run()
    assert task == pytest.approx(want, rel=1e-9)
    assert distributed == pytest.approx(want, rel=1e-9)


@given(
    purchases=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(1, 9)),
        max_size=15,
    ),
    clicks=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=15
    ),
)
@_settings
def test_asof_join_matches_python_reference(spark, purchases, clicks):
    """asof_join (union-then-window) vs a plain Python scan: for every
    left row, the right value with the largest ts <= left ts per key;
    equal-ts right rows match, and the largest value wins among them."""
    from github_miner_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(clicks)],
        "key bigint, ts bigint, row_id bigint",
    )
    right = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in purchases],
        "key bigint, ts bigint, value double",
    )
    got = {
        r["row_id"]: r["asof_value"]
        for r in asof_join(left, right, "key", "ts", "value").collect()
    }
    want = {}
    for i, (k, t) in enumerate(clicks):
        cands = [(pt, v) for pk, pt, v in purchases if pk == k and pt <= t]
        if cands:
            best_t = max(pt for pt, _ in cands)
            want[i] = float(max(v for pt, v in cands if pt == best_t))
        else:
            want[i] = None
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 10_000)),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_sessionize_matches_python_reference(spark, events):
    """sessionize (lag + running sum) vs a plain Python scan over
    random keyed event streams: session boundaries at gap > threshold,
    correct counts and extents per session."""
    from github_miner_spark.functions.temporal import sessionize

    gap = 100
    df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(events)],
        "user_id bigint, ts bigint, event_id bigint",
    )
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start"], r["session_end"]
        )
        for r in sessionize(df, gap_seconds=gap).collect()
    }
    want = {}
    by_key: dict[int, list[tuple[int, int]]] = {}
    for i, (k, t) in enumerate(events):
        by_key.setdefault(k, []).append((t, i))
    for k, rows in by_key.items():
        rows.sort()
        seq, prev = 0, None
        sess: list[list[int]] = []
        for t, _i in rows:
            if prev is None or t - prev > gap:
                seq += 1
                sess.append([])
            sess[-1].append(t)
            prev = t
        for s_i, ts_list in enumerate(sess, start=1):
            want[(k, s_i)] = (len(ts_list), min(ts_list), max(ts_list))
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    root=st.integers(0, 10),
    k=st.integers(1, 4),
)
@_settings
def test_k_hop_walk_multiplicity_matches_dp(spark, edges, root, k):
    """k_hop vs a walk-count DP on random digraphs (cycles included):
    one row per (depth, node) walk of length <= k from the root —
    WALK multiplicity, the documented bounded-var-length semantics."""
    from collections import defaultdict

    from github_miner_spark.graph.paths import k_hop

    out = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    # walks[d][v] = number of length-d walks root -> v
    want: dict[tuple[int, int], int] = {}
    cur = {root: 1}
    for d in range(1, k + 1):
        nxt: dict[int, int] = defaultdict(int)
        for v, n in cur.items():
            for w_ in out[v]:
                nxt[w_] += n
        for v, n in nxt.items():
            want[(d, v)] = n
        cur = nxt
        if not cur:
            break
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    rows = k_hop(df, [root], k, distinct_nodes=False).collect()
    got: dict[tuple[int, int], int] = {}
    for r in rows:
        got[(r["depth"], r["node"])] = got.get((r["depth"], r["node"]), 0) + 1
    assert got == want


def _peel_coreness_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Naive O(V^2) reference: repeatedly delete ALL vertices of degree
    < k for k = 1, 2, ... — the textbook k-core definition, independent
    of both engine implementations (h-index fixpoint, Matula-Beck)."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    core = {v: 0 for v in adj}
    alive = set(adj)
    k = 1
    while alive:
        changed = True
        while changed:
            drop = {v for v in alive if sum(1 for u in adj[v] if u in alive) < k}
            changed = bool(drop)
            alive -= drop
        for v in alive:
            core[v] = k
        k += 1
    return core


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=50
    )
)
@_settings
def test_coreness_both_paths_match_peel_reference(spark, edges):
    from github_miner_spark.graph.algorithms import coreness

    want = _peel_coreness_reference(edges)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    # the default ladder: the task-local peel kernel
    task = {r.id: r.core for r in coreness(df).collect()}
    # empty ladder: the distributed h-index fixpoint
    with only(coreness="distributed"):
        distributed = {r.id: r.core for r in coreness(df).collect()}
    assert task == want
    assert distributed == want


# random undirected structure: edges over 0..11 (cycles, self-loops,
# parallel and reversed duplicates) plus isolated self-loop vertices
# 12..15, whose only edge is to themselves
_community_graphs = st.tuples(
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=30),
    st.lists(st.integers(12, 15), max_size=3),
).map(lambda t: t[0] + [(v, v) for v in t[1]])


def _sweep_reference(edges: list[tuple[int, int]], iterations: int) -> dict[int, int]:
    """Synchronous label propagation by definition: every vertex takes
    the label most frequent among its distinct non-self neighbors
    (ties -> smallest label), all vertices at once; a vertex without
    neighbors keeps its label."""
    from collections import Counter

    nbrs: dict[int, set[int]] = {v: set() for e in edges for v in e}
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in nbrs}
    for _ in range(iterations):
        nxt = {}
        for v, ns in nbrs.items():
            votes = Counter(label[u] for u in ns)
            top = max(votes.values(), default=0)
            nxt[v] = min((c for c, n in votes.items() if n == top), default=label[v])
        label = nxt
    return label


@given(edges=_community_graphs, iterations=st.integers(1, 4))
@_settings
def test_label_propagation_both_paths_match_sweep_reference(spark, edges, iterations):
    from github_miner_spark.graph.algorithms import label_propagation

    want = _sweep_reference(edges, iterations)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src bigint, dst bigint"
    )
    got = {}
    for path in ("task", "distributed"):
        with only(label_propagation=path):
            got[path] = {
                r.id: r.community for r in label_propagation(df, iterations).collect()
            }
    assert got["task"] == want
    assert got["distributed"] == want


@given(edges=_community_graphs, labels=st.lists(st.integers(0, 3), min_size=16, max_size=16))
@_settings
def test_modularity_both_paths_match_newman_matrix_form(spark, edges, labels):
    """Q = (1/2m) sum_ij [A_ij - k_i k_j / 2m] delta(c_i, c_j) with numpy,
    where A is the 0/1 adjacency of the undirected simple graph: each
    distinct pair once per direction, and a self-loop once, A_vv = 1,
    as the engine's symmetrization keeps it."""
    import numpy as np

    from github_miner_spark.graph.algorithms import modularity

    a = np.zeros((16, 16))
    for u, v in edges:
        a[u, v] = a[v, u] = 1.0
    k = a.sum(axis=1)
    m2 = a.sum()
    c = np.array(labels)
    want = float(((a - np.outer(k, k) / m2) * (c[:, None] == c[None, :])).sum() / m2)
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "src bigint, dst bigint"
    )
    comm = spark.createDataFrame(
        [(v, labels[v]) for v in sorted({v for e in edges for v in e})],
        "id bigint, community bigint",
    )
    for path in ("driver", "distributed"):
        with only(modularity=path):
            assert modularity(df, comm) == pytest.approx(want, rel=1e-9, abs=1e-12), path


def test_percentile_approx_matches_exact_within_tolerance(spark):
    """The documented 100 TB path for lineitem_price_quantiles:
    percentile_approx (one-pass, mergeable t-digest) must track the
    exact sort-based percentile() within 1% relative error at the
    default accuracy — the contract that makes swapping it in at scale
    a latency decision, not a correctness one."""
    from github_miner_spark.io.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.01")
    from pyspark.sql import functions as F

    row = li.agg(
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").alias("exact"),
        F.expr("percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").alias("approx"),
    ).collect()[0]
    for e, a in zip(row["exact"], row["approx"]):
        assert abs(a - e) / e < 0.01, (e, a)


def test_sketch_distinct_contracts(spark):
    """The documented 100 TB paths for distinct-user rollups
    (events_daily_active_users computes exact counts; at scale the
    swap-ins are approx_count_distinct and the MERGEABLE datasketches
    HLL, whose per-partition sketches union without a second pass).
    Both must track the exact distinct count within 5%."""
    from pyspark.sql import functions as F

    from github_miner_spark.io.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.01")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("approx"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("hll"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05, row
    assert abs(row["hll"] - row["exact"]) / row["exact"] < 0.05, row


@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 14),
            st.integers(0, 14),
            st.sampled_from(["OWNS", "DEPENDS_ON", "HOSTED_ON"]),
        ),
        min_size=0,
        max_size=30,
    ),
    rel=st.sampled_from(["OWNS", "DEPENDS_ON", "HOSTED_ON"]),
    del_label=st.sampled_from(["A", "B"]),
)
@_settings
def test_cypher_delete_matches_set_model(spark, edges, rel, del_label):
    """DELETE-by-rel-type then DETACH-DELETE-by-label on a randomized
    graph must equal the pure set-difference model: the engine is
    anti-joins over immutable frames, the model is Python sets."""
    from github_miner_spark.graph.model import PropertyGraph
    from github_miner_spark.graph.mutations import apply_cypher_deletes

    nodes = sorted({v for e in edges for v in e[:2]} | {0, 1})
    label = {v: ("A" if v % 2 == 0 else "B") for v in nodes}
    vdf = spark.createDataFrame(
        [(v, label[v], f"n{v}") for v in nodes], "id long, label string, name string"
    )
    edf = spark.createDataFrame(
        [(s, d, r, label[s], label[d]) for s, d, r in edges]
        or [(0, 1, "OWNS", label[0], label[1])],
        "src long, dst long, rel_type string, src_label string, dst_label string",
    )
    rows = [tuple(r) for r in edf.collect()]
    g = PropertyGraph(vertices=vdf, edges=edf)

    res = apply_cypher_deletes(
        g,
        f"MATCH ()-[r:{rel}]->() DELETE r "
        f"MATCH (n:{del_label}) DETACH DELETE n",
    )
    # model
    after_rel = [e for e in rows if e[2] != rel]
    survivors = [v for v in nodes if label[v] != del_label]
    after_all = [e for e in after_rel if label[e[0]] != del_label and label[e[1]] != del_label]
    want_rels_deleted = (len(rows) - len(after_rel)) + (len(after_rel) - len(after_all))
    assert res.nodes_deleted == len(nodes) - len(survivors)
    assert res.relationships_deleted == want_rels_deleted
    assert sorted(r["id"] for r in res.graph.vertices.collect()) == survivors
    assert sorted(tuple(r) for r in res.graph.edges.collect()) == sorted(after_all)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(10, 16)),
        min_size=1,
        max_size=25,
    ),
    threshold=st.integers(1, 3),
)
@_settings
def test_cypher_with_pipeline_matches_python(spark, edges, threshold):
    """Round-5 grammar property: the row-carrying WITH pipeline
    (aggregate + HAVING-style WHERE + continued MATCH + re-aggregate)
    over random bipartite repo->module graphs must equal the direct
    python computation, including row multiplicity."""
    from github_miner_spark.cypher import run_cypher
    from github_miner_spark.graph.model import PropertyGraph

    rows = [
        (int(a), int(b), "DEPENDS_ON", "GitRepo", "NodeModule", None)
        for a, b in edges
    ]
    edf = spark.createDataFrame(
        rows,
        "src bigint, dst bigint, rel_type string, src_label string, dst_label string, version string",
    )
    verts = sorted({a for a, _ in edges} | {b for _, b in edges})
    vdf = spark.createDataFrame(
        [(v, "GitRepo" if v < 10 else "NodeModule", f"n{v}") for v in verts],
        "id bigint, label string, name string",
    )
    g = PropertyGraph(vdf, edf)
    got = {
        (r["name"], r["deg"], r["n"])
        for r in run_cypher(
            g,
            "MATCH (r:GitRepo)-[:DEPENDS_ON]->(m:NodeModule) "
            f"WITH m, count(r) AS deg WHERE deg >= {threshold} "
            "MATCH (r2:GitRepo)-[:DEPENDS_ON]->(m) "
            "RETURN m.name AS name, deg, count(r2) AS n",
        ).collect()
    }
    # python twin: count edges per module (multiset, parallel edges
    # count), filter, second count equals the first
    from collections import Counter

    deg = Counter(b for _, b in edges)
    want = {
        (f"n{m}", d, d) for m, d in deg.items() if d >= threshold
    }
    assert got == want


@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=12),
)
@_settings
def test_cypher_unwind_literal_roundtrip(spark, vals):
    """UNWIND of a literal list must reproduce the exact multiset and
    its aggregate."""
    from github_miner_spark.cypher import run_cypher
    from github_miner_spark.graph.model import PropertyGraph

    vdf = spark.createDataFrame([(1, "X", "a")], "id bigint, label string, name string")
    edf = spark.createDataFrame(
        [],
        "src bigint, dst bigint, rel_type string, src_label string, dst_label string, version string",
    )
    g = PropertyGraph(vdf, edf)
    lit = "[" + ", ".join(str(v) for v in vals) + "]"
    got = [r["x"] for r in run_cypher(g, f"UNWIND {lit} AS x RETURN x ORDER BY x").collect()]
    assert got == sorted(vals)
    s = run_cypher(g, f"UNWIND {lit} AS x RETURN sum(x) AS s").collect()[0]["s"]
    assert s == sum(vals)


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=6, max_size=30), min_size=3, max_size=8
    ),
    cut_frac=st.sampled_from([0.3, 0.5, 0.8]),
)
@_settings
def test_incremental_minhash_equals_full_run_filtered(spark, texts, cut_frac):
    """The incremental-dedup contract: restricting the NEWER candidate
    side to the delta must yield EXACTLY the full-corpus pair set
    filtered to pairs whose newer doc is in the delta — same pairs,
    same 6dp-rounded scores (the drift the round-6 review caught was a
    threshold-before-rounding divergence; this pins the shared-code
    semantics on randomized corpora)."""
    from github_miner_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    cutoff = int(cut_frac * len(texts))
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    want = {k: v for k, v in full.items() if k[1] >= cutoff}
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs, threshold=0.5, delta_min_doc_id=cutoff
        ).collect()
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    ),
    pieces=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=2, max_size=3),
        min_size=0,
        max_size=5,
    ),
)
@_settings
def test_max_munch_fold_matches_python_reference(spark, docs, pieces):
    """The WordPiece greedy longest-match fold (one aggregate()
    expression) vs a straightforward Python walk, over random docs and
    random multi-token vocabularies from a tiny alphabet — the
    structure generator produces overlapping pieces, shared prefixes,
    pieces longer than the doc, and repeated tokens."""
    from github_miner_spark.functions.wordpiece_store import (
        max_munch_piece_count,
    )

    piece_strs = [" ".join(p) for p in pieces]
    vocab = {tuple(p) for p in pieces}
    max_len = max((len(v) for v in vocab), default=1)

    def ref(toks):
        i, cnt = 0, 0
        while i < len(toks):
            step = 1
            for L in range(min(max_len, len(toks) - i), 1, -1):
                if tuple(toks[i : i + L]) in vocab:
                    step = L
                    break
            i += step
            cnt += 1
        return cnt

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, toks array<string>",
    )
    got = {
        r["doc_id"]: r["cnt"]
        for r in df.select(
            "doc_id", max_munch_piece_count(piece_strs).alias("cnt")
        ).collect()
    }
    want = {i: ref(toks) for i, toks in enumerate(docs)}
    assert got == want


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=8,
    )
)
@_settings
def test_span_removal_plan_matches_python_reference(spark, tmp_path_factory, docs):
    """Randomized-structure check of the exact-substring removal plan:
    synthetic corpora over a 5-letter alphabet (dense window
    collisions — within-doc repeats, cross-doc repeats, overlapping
    and touching runs all occur) written as a documents.parquet
    fixture, then the registered query compared row-for-row against
    the pure-Python first-occurrence + run-merge reference."""
    import re
    from collections import defaultdict

    from github_miner_spark.queries.dedup_queries import (
        duplicated_span_removal_plan,
    )

    w = 5
    tmp = tmp_path_factory.mktemp("span_prop")
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    occs = defaultdict(list)
    for doc_id, text in rows:
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split(" ") if t]
        for p in range(len(toks) - w + 1):
            occs[" ".join(toks[p : p + w])].append((doc_id, p + 1))
    sites = defaultdict(list)
    for sites_of_win in occs.values():
        for doc_id, pos in sorted(sites_of_win)[1:]:
            sites[doc_id].append(pos)
    want = []
    for doc_id in sorted(sites):
        run = []
        for pos in sorted(sites[doc_id]):
            if run and pos - run[-1] > w:
                want.append((doc_id, run[0], run[-1] + w - 1, len(run)))
                run = []
            run.append(pos)
        if run:
            want.append((doc_id, run[0], run[-1] + w - 1, len(run)))
    got = [
        (r["doc_id"], r["span_start"], r["span_end"], r["n_sites"])
        for r in duplicated_span_removal_plan(spark, str(tmp)).collect()
    ]
    assert got == want


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-400, max_value=400).map(lambda v: v / 100.0),
            min_size=64,
            max_size=64,
        ),
        min_size=6,
        max_size=12,
    )
)
@_settings
def test_clustered_opq_permutation_matches_numpy(spark, tmp_path_factory, vecs):
    """Randomized check of the whole OPQ-permutation derivation chain
    (queries/clustered_eval.py): synthetic embeddings written as a
    temporary embeddings.parquet, then the engine's permuted corpus
    compared against an independent numpy replay of the spec —
    md5-seeded cluster shift + renormalize, per-dim variance from
    1e5-quantized components in integer algebra, rank desc (ties by
    dim), round-robin deal across the 4 subspaces, permute."""
    import hashlib

    import numpy as np

    from github_miner_spark.queries.clustered_eval import (
        CLU_NC,
        VARQ_SCALE,
        _clu_permuted,
        _cnv,
    )

    tmp = tmp_path_factory.mktemp("opq_prop")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp / "embeddings.parquet"))

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    # the float32 parquet round-trip is part of the spec: replay from
    # the stored float32 values, as the engine reads them
    E = np.array([np.array(v, dtype=np.float32).astype(np.float64) for _i, v in rows])
    offs = np.array(
        [
            [(h32(f"off{c}_{i}") % 2001 - 1000) / 1000.0 for i in range(1, 65)]
            for c in range(CLU_NC)
        ]
    )
    c = np.array([h32(f"clu{i}") % CLU_NC for i, _v in rows])
    S = E + 0.5 * offs[c]
    nv = S / np.sqrt((S * S).sum(axis=1, keepdims=True))
    Q = np.round(nv * VARQ_SCALE).astype(np.int64)
    n = len(rows)
    varq = n * (Q * Q).sum(axis=0) - Q.sum(axis=0) ** 2
    order = np.lexsort((np.arange(64), -varq))  # variance desc, dim asc
    slots: dict[int, list[int]] = {j: [] for j in range(4)}
    for r, dim in enumerate(order):
        slots[r % 4].append(dim)
    perm = [d for j in range(4) for d in slots[j]]
    want = {i: [nv[i][d] for d in perm] for i, _v in rows}

    got = {
        r.vec_id: list(r.nv)
        for r in _clu_permuted(_cnv(spark, str(tmp))).collect()
    }
    assert set(got) == set(want)
    for vid in want:
        assert np.abs(np.array(got[vid]) - np.array(want[vid])).max() < 1e-9, vid


_MODULES = ["m0", "m1", "m2", "m3", "m4", "m5"]
# ghost names are not in the registry: they stay vertices and stop the recursion
_DEP_MAP = st.dictionaries(
    st.sampled_from(_MODULES + ["ghost0", "ghost1"]),
    st.sampled_from(["1.0.0", "^2.1.0"]),
    max_size=3,
)
_DEP_FIELDS = ("dependencies", "devDependencies", "peerDependencies")


@st.composite
def _lake_strategy(draw):
    """(registry, [base batch, delta batch]). Every module is registered
    and every dependency map (dev/peer ones at any depth too) draws
    from all names, so self-loops, cycles, unregistered names and deep
    dev/peer maps that must not expand all occur."""
    registry = [{"name": n, **{f: draw(_DEP_MAP) for f in _DEP_FIELDS}} for n in _MODULES]
    batches = []
    for b in range(2):
        batch = []
        for i in range(draw(st.integers(1, 3))):
            repo = f"r{b}{i}"
            manifest = {"name": repo, **{f: draw(_DEP_MAP) for f in _DEP_FIELDS}}
            batch.append((f"u{draw(st.integers(0, 2))}", repo, manifest))
        batches.append(batch)
    return registry, batches


@given(_lake_strategy())
@_settings
def test_insert_job_matches_python_closure(spark, tmp_path_factory, lake):
    """Randomized registries and lakes through run_insert_job: base
    batch, delta batch, then a replay of the base. The returned counts
    after every op and the final stores must equal the pure-Python
    closure's (tests/insert_reference.py)."""
    import json

    from github_miner_spark.etl.insert import run_insert_job
    from tests.insert_reference import reference_batch

    registry, batches = lake
    tmp = tmp_path_factory.mktemp("insert_prop")
    npm = spark.createDataFrame(
        [tuple(r[c] for c in ("name", *_DEP_FIELDS)) for r in registry],
        "name string, dependencies map<string,string>, "
        "devDependencies map<string,string>, peerDependencies map<string,string>",
    )
    lake_dirs = []
    for b, batch in enumerate(batches):
        for owner, repo, manifest in batch:
            d = tmp / f"batch{b}" / owner / repo
            d.mkdir(parents=True)
            (d / "package.json").write_text(json.dumps(manifest))
        lake_dirs.append(str(tmp / f"batch{b}"))

    vp, ep = str(tmp / "vertices"), str(tmp / "edges")
    want_v, want_e = set(), set()
    for b in (0, 1, 0):
        v, e = reference_batch(registry, batches[b])
        want_v |= v
        want_e |= e
        got = run_insert_job(spark, lake_dirs[b], npm, vp, ep)
        assert got == {"vertices": len(want_v), "edges": len(want_e)}
    got_v = {tuple(r) for r in spark.read.parquet(vp).select("id", "label", "name").collect()}
    got_e = {
        tuple(r)
        for r in spark.read.parquet(ep)
        .select("src", "dst", "rel_type", "src_label", "dst_label", "version")
        .collect()
    }
    assert got_v == want_v
    assert got_e == want_e
