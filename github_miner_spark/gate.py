"""One execution-path gate for every hybrid operator.

A gated operator computes the same rows on up to three paths:

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

Most ladders hold one rung. Only three gates keep both a ``driver`` and
a ``task`` rung, because their driver twin measured faster than the
same twin in one task: ``strongly_connected_components``,
``betweenness_centrality`` and ``bfs_depths`` (the numbers sit beside
their entries). Where the task kernel ran the same twin no slower
(connected components, Louvain, coreness, closure counts, all shortest
paths, simple-path enumeration, weighted SSSP) the driver rung is gone:
a second in-process strategy that never wins is only more code.
``modularity``, ``label_propagation`` and the corpus rank gates keep a
lone ``driver`` rung; they have no task twin.

``SPARK_GRAFT_FORCE_DISTRIBUTED=1`` (read at call time) skips every
``driver`` rung, so the bench's distributed lane and tests reach the
scale-out loops without touching call sites. ``task`` rungs stay on:
they are executor-side and bounded per task.

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
    # deduped edges, then the trimmed core: driver Tarjan, else the
    # whole core as one Tarjan task. The driver rung stays: on the
    # 32-core distributed lane the task rung measured 0.93 s against
    # the driver's 0.66 s
    "strongly_connected_components": (("driver", 5_000_000), ("task", 5_000_000)),
    # per weakly-connected piece of the core: Tarjan task up to this
    # many edges, the coloring loop above it; a whole graph above it is
    # trimmed first
    "scc_component": (("task", 5_000_000),),
    # symmetric weighted edges
    "louvain": (("task", 5_000_000),),
    "modularity": (("driver", 2_000_000),),
    "label_propagation": (("driver", 2_000_000),),
    # deduped undirected edges
    "coreness": (("task", 5_000_000),),
    # edges; the task rung is one Brandes run per sampled root. The
    # driver rung stays: it measured 0.89 s against the task's 0.98 s
    "betweenness_centrality": (("driver", 5_000_000), ("task", 5_000_000)),
    # largest per-root shortest-path DAG after the forward sweep
    "betweenness_backward": (("task", 2_000_000),),
    # edges, for a small explicit root set (paths.DRIVER_CLOSURE_ROOTS)
    "closure_path_counts": (("task", 5_000_000),),
    # The driver rung stays: on closeness, the per_root_task caller,
    # it measured 0.80 s against the task's 1.12 s; and the task rung
    # is opt-in, so internal sweeps have no other way past the loop
    "bfs_depths": (("driver", 2_000_000), ("task", 5_000_000)),
    "all_shortest_paths_multi": (("task", 5_000_000),),
    "enumerate_simple_paths": (("task", 5_000_000),),
    "weighted_sssp": (("task", 5_000_000),),
    # module edges, both ANF queries
    "anf": (("task", 5_000_000),),
    # documents rows (parquet footer), and source-overlap shingle rows
    "corpus_zipf_fit": (("driver", 1_000_000),),
    "kmv_sketch": (("driver", 1_000_000),),
}


def choose_path(gate: str, n_rows: int, skip: tuple[str, ...] = ()) -> str:
    """The path ``gate`` takes for ``n_rows`` input rows: the first rung
    of ``LIMITS[gate]`` whose limit admits ``n_rows``, else
    ``"distributed"``. ``skip`` names paths this call cannot take (a
    caller that did not opt in to a rung); the force flag adds
    ``"driver"``."""
    if os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED"):
        skip = (*skip, "driver")
    for path, max_rows in LIMITS[gate]:
        if path not in skip and n_rows <= max_rows:
            return path
    return "distributed"
