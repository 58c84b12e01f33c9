"""The insert job's semantics in pure Python, for checking
``etl.insert.run_insert_job`` stores against.

A registry row is ``{name, dependencies, devDependencies,
peerDependencies}`` (maps or None); a batch is a list of ``(owner,
repo, manifest)``. Vertices are (id, label, name); edges are (src, dst,
rel_type, src_label, dst_label, version)."""

from __future__ import annotations

from collections.abc import Iterable

_REL = (
    ("dependencies", "DEPENDS_ON"),
    ("devDependencies", "DEV_DEPENDS_ON"),
    ("peerDependencies", "PEER_DEPENDS_ON"),
)
_ALL_FIELDS = frozenset(f for f, _ in _REL)


def _edges_of(src: str, manifest: dict, label: str, fields: Iterable[str]) -> set[tuple]:
    return {
        (src, dst, rel, label, "NodeModule", ver)
        for field, rel in _REL
        if field in fields
        for dst, ver in (manifest.get(field) or {}).items()
    }


def reference_batch(registry: list[dict], batch: list[tuple[str, str, dict]]) -> tuple[set, set]:
    """One batch: (vertices, edges). Repo-seeded modules expand all
    three dependency maps, deeper modules only ``dependencies``; names
    the registry lacks stay as vertices and stop the recursion."""
    by_name = {r["name"]: r for r in registry}
    vertices, edges = set(), set()
    for owner, repo, manifest in batch:
        rid = f"{owner}/{repo}"
        vertices.add((owner, "GitUser", owner))
        vertices.add((rid, "GitRepo", repo))
        edges.add((owner, rid, "OWNS", "GitUser", "GitRepo", None))
        edges |= _edges_of(rid, manifest, "GitRepo", _ALL_FIELDS)
    frontier = {e[1] for e in edges if e[2] != "OWNS"}
    resolved: set[str] = set()
    fields = _ALL_FIELDS
    while frontier:
        resolved |= frontier
        new_edges = set()
        for name in frontier & by_name.keys():
            new_edges |= _edges_of(name, by_name[name], "NodeModule", fields)
        edges |= new_edges
        frontier = {e[1] for e in new_edges} - resolved
        fields = {"dependencies"}
    vertices |= {(n, "NodeModule", n) for n in resolved}
    return vertices, edges
