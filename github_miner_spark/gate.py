"""One execution-path gate for every hybrid operator.

A gated operator computes the same rows on two paths, the one rung
of its ladder and the distributed loop, out of three kinds:

- ``driver``: collect the input and run an in-driver twin (or, for the
  corpus rank gates, one bounded single-partition window) — no
  per-round barriers, but nothing scales out;
- ``task``: ship the whole input to ONE executor task and run the
  twin there through a pandas UDF (``applyInPandas`` over one group,
  or ``mapInPandas`` over one partition) — no driver collect;
- ``distributed``: the level-synchronous DataFrame loop, the only path
  with no size limit.

``LIMITS`` maps a gate name to its ladder of ``(path, max_rows)``
rungs, tried in order; :func:`choose_path` returns the first rung that
admits ``n_rows`` and ``"distributed"`` when none does. The one logical
operator / size-chosen physical strategy split follows Pregelix (VLDB
2014).

Where a task kernel runs the driver twin over the whole input in one
task, the driver rung is gone: on 4 cores the one-task twin tied or
beat the driver collect on every graph gate that has one, and a second
in-process strategy that never wins is only more code. Only
``modularity`` (measured to win, see its ``LIMITS`` comment) and the
corpus rank gates (one bounded single-window plan) keep a ``driver``
rung. No option or environment variable overrides a ladder.

Tests pick a path by overriding a ladder, e.g.
``monkeypatch.setitem(gate.LIMITS, "pagerank", ())`` runs PageRank's
distributed loop. ``choose_path(gate, 0)`` names the cheapest rung
still on; callers ask it before paying for a row count.
"""

from __future__ import annotations

LIMITS: dict[str, tuple[tuple[str, int], ...]] = {
    # weighted edges; a driver twin measured 2x slower than the task
    # kernel at bench scale (the collect + re-ship of ranks)
    "pagerank": (("task", 5_000_000),),
    # deduped non-self pairs
    "connected_components": (("task", 5_000_000),),
    # deduped edges, then the trimmed core, then each peeled core: the
    # whole set as one Tarjan task
    "strongly_connected_components": (("task", 5_000_000),),
    # per weakly-connected piece of the core: Tarjan task up to this
    # many edges, the coloring loop above it; a whole graph above it is
    # trimmed first
    "scc_component": (("task", 5_000_000),),
    # symmetric weighted edges
    "louvain": (("task", 5_000_000),),
    # symmetric edges; on 4 cores at sf0.1 two collects beat a one-task
    # kernel (1.03 s vs 1.28 s) and the SQL (0.87 s vs 1.16 s; per
    # reltype 2.00 s vs 2.54 s) in 9 or more of 10 pairs
    "modularity": (("driver", 2_000_000),),
    # symmetric non-self pairs; a pure-Python O(iterations x E) twin
    "label_propagation": (("task", 2_000_000),),
    # deduped undirected edges
    "coreness": (("task", 5_000_000),),
    # edges; every sampled root's Brandes run in one task
    "betweenness_centrality": (("task", 5_000_000),),
    # largest per-root shortest-path DAG after the forward sweep
    "betweenness_backward": (("task", 2_000_000),),
    # edges, for a small explicit root set (paths.DRIVER_CLOSURE_ROOTS)
    "closure_path_counts": (("task", 5_000_000),),
    # edges, for a small explicit root set; every root's BFS in one task
    "bfs_depths": (("task", 5_000_000),),
    "all_shortest_paths_multi": (("task", 5_000_000),),
    "enumerate_simple_paths": (("task", 5_000_000),),
    "weighted_sssp": (("task", 5_000_000),),
    # module edges, both ANF queries
    "anf": (("task", 5_000_000),),
    # documents rows (parquet footer), and source-overlap shingle rows
    "corpus_zipf_fit": (("driver", 1_000_000),),
    "kmv_sketch": (("driver", 1_000_000),),
}


def choose_path(gate: str, n_rows: int) -> str:
    """The path ``gate`` takes for ``n_rows`` input rows: the first rung
    of ``LIMITS[gate]`` whose limit admits ``n_rows``, else
    ``"distributed"``."""
    for path, max_rows in LIMITS[gate]:
        if n_rows <= max_rows:
            return path
    return "distributed"
