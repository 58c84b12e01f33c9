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
``modularity``, ``label_propagation`` and the corpus rank gates keep a
``driver`` rung; they have no task twin.

``SPARK_GRAFT_FORCE_DISTRIBUTED=1`` (read at call time) skips every
``driver`` rung, so the bench's distributed lane and tests reach the
scale-out loops of those gates without touching call sites. ``task``
rungs stay on: they are executor-side and bounded per task.

Tests pick a path by overriding a ladder, e.g.
``monkeypatch.setitem(gate.LIMITS, "pagerank", ())`` runs PageRank's
distributed loop. ``choose_path(gate, 0)`` names the cheapest rung
still on; callers ask it before paying for a row count.
"""

from __future__ import annotations

import os

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
    # no task twin yet: the driver rung stays
    "modularity": (("driver", 2_000_000),),
    "label_propagation": (("driver", 2_000_000),),
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
    ``"distributed"``. The force flag skips ``driver`` rungs."""
    forced = bool(os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED"))
    for path, max_rows in LIMITS[gate]:
        if not (forced and path == "driver") and n_rows <= max_rows:
            return path
    return "distributed"
