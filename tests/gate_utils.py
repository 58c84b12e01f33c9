"""Path selection for tests: override ``gate.LIMITS`` ladders."""

from __future__ import annotations

from unittest.mock import patch

from github_miner_spark.gate import LIMITS


def only(**keep: str):
    """A ``patch.dict`` over ``LIMITS`` that keeps, for each named gate,
    only the rung for the named path: ``only(pagerank="task")`` runs
    PageRank's task kernel, ``only(pagerank="distributed")`` empties the
    ladder so its distributed loop runs. Use it as a context manager or
    a decorator. A path the gate's ladder does not hold raises
    ``ValueError``: keeping no rung would silently run the distributed
    loop instead."""
    for g, p in keep.items():
        if p != "distributed" and p not in {path for path, _ in LIMITS[g]}:
            raise ValueError(f"gate {g!r} has no {p!r} rung: {LIMITS[g]}")
    return patch.dict(
        LIMITS,
        {g: tuple(r for r in LIMITS[g] if r[0] == p) for g, p in keep.items()},
    )
