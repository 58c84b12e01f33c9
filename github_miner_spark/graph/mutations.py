"""Graph mutations: Cypher DELETE / DETACH DELETE as set operations.

The reference tears its graph down with plain Cypher writes
(reference documentation/queries.md:246-252 — delete relationships
first, then nodes — and :410-413 ``MATCH (n) DETACH DELETE n``). In a
row-at-a-time engine those are per-row deletes over Bolt; here a delete
is an **anti-join + new immutable (vertices, edges) pair**: the matched
set is computed declaratively, removed with one hash anti-join per
side, and the caller gets back a new :class:`PropertyGraph` plus
Neo4j-style update counters (``nodes_deleted`` /
``relationships_deleted``).

Semantics mirror Neo4j:

- ``DELETE r`` on a relationship variable removes every matched
  relationship instance.
- ``DELETE n`` on a node REFUSES if any matched node still has incident
  relationships (Neo4j raises ``Neo.ClientError.Schema.
  ConstraintValidationFailed``; we raise :class:`ValueError` with the
  same message shape).
- ``DETACH DELETE n`` removes the nodes and all incident edges.
- An undirected ``-[r:REL]-`` term matches either orientation; DELETE
  of the bound edge set is naturally idempotent across the two
  bindings (the matched set is a set).

Scale notes (100 TB thinking): the matched set for the corpus's delete
shapes is computed from **edge-column filters only** (rel_type,
src_label, dst_label are columns on the edge table — no vertex join),
and node-delete membership is a broadcast-able id set; both removals
are single anti-joins, so a full teardown is two shuffles, not O(rows)
round-trips.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.graph.model import PropertyGraph

_NODE = r"\(\s*(?P<{p}var>\w*)\s*(?::\s*(?P<{p}label>\w+))?\s*(?P<{p}props>\{{[^}}]*\}})?\s*\)"

_STMT_RE = re.compile(
    r"^MATCH\s+(?P<pattern>.+?)\s+(?P<detach>DETACH\s+)?DELETE\s+"
    r"(?P<targets>\w+(?:\s*,\s*\w+)*)$",
    re.IGNORECASE | re.DOTALL,
)

_BARE_NODE_RE = re.compile("^" + _NODE.format(p="") + "$")

_HOP_RE = re.compile(
    "^"
    + _NODE.format(p="a")
    + r"\s*(?P<larrow><)?-\s*\[\s*(?P<evar>\w*)\s*(?::\s*(?P<rels>\w+(?:\s*\|\s*\w+)*))?\s*\]"
    + r"\s*-(?P<rarrow>>)?\s*"
    + _NODE.format(p="b")
    + "$"
)

_PROP_RE = re.compile(r"(\w+)\s*:\s*(?:'([^']*)'|\"([^\"]*)\"|(-?\d+(?:\.\d+)?))")


@dataclass
class DeleteResult:
    graph: PropertyGraph
    nodes_deleted: int
    relationships_deleted: int


def _parse_props(props: str | None) -> list[tuple[str, object]]:
    if not props:
        return []
    out: list[tuple[str, object]] = []
    for m in _PROP_RE.finditer(props):
        key = m.group(1)
        if m.group(4) is not None:
            num = m.group(4)
            out.append((key, float(num) if "." in num else int(num)))
        else:
            out.append((key, m.group(2) if m.group(2) is not None else m.group(3)))
    return out


def _vertex_ids(g: PropertyGraph, label: str | None, props: str | None) -> DataFrame:
    """Matched vertex ids for a node term — a column-filtered scan."""
    v = g.vertices
    if label:
        v = v.filter(F.col("label") == label)
    for key, lit in _parse_props(props):
        if key == "id":
            v = v.filter(F.col("id") == F.lit(lit))
        elif key in v.columns:
            v = v.filter(F.col(key) == F.lit(lit))
        else:  # missing property is NULL (Neo4j): never equal
            v = v.filter(F.lit(False))
    return v.select("id")


def _matched_edges(g: PropertyGraph, m: re.Match) -> DataFrame:
    """Edges matched by one ``(a)-[r:REL]-(b)`` hop, as distinct
    (src, dst, rel_type) triples. Label-only endpoints compile to edge
    column filters (src_label/dst_label live on the edge table);
    property-map endpoints join against the filtered vertex scan."""
    directed_right = bool(m.group("rarrow"))
    directed_left = bool(m.group("larrow"))
    if directed_right and directed_left:
        raise ValueError(f"edge term has both arrow heads: {m.group(0)!r}")

    rels = m.group("rels")
    rel_types = [r.strip() for r in rels.split("|")] if rels else None

    def one_orientation(sl, sp, dl, dp) -> DataFrame:
        e = g.edges
        if rel_types:
            e = e.filter(F.col("rel_type").isin(rel_types))
        if sl:
            e = e.filter(F.col("src_label") == sl)
        if dl:
            e = e.filter(F.col("dst_label") == dl)
        if _parse_props(sp):
            e = e.join(
                F.broadcast(_vertex_ids(g, sl, sp).withColumnRenamed("id", "src")), "src"
            )
        if _parse_props(dp):
            e = e.join(
                F.broadcast(_vertex_ids(g, dl, dp).withColumnRenamed("id", "dst")), "dst"
            )
        return e.select("src", "dst", "rel_type")

    if directed_right:
        out = one_orientation(
            m.group("alabel"), m.group("aprops"), m.group("blabel"), m.group("bprops")
        )
    elif directed_left:
        out = one_orientation(
            m.group("blabel"), m.group("bprops"), m.group("alabel"), m.group("aprops")
        )
    else:
        out = one_orientation(
            m.group("alabel"), m.group("aprops"), m.group("blabel"), m.group("bprops")
        ).unionByName(
            one_orientation(
                m.group("blabel"), m.group("bprops"), m.group("alabel"), m.group("aprops")
            )
        )
    return out.distinct()


def _hop_filter_condition(m: re.Match):
    """Boolean edge-table condition for a hop whose endpoints carry NO
    property maps: rel_type / src_label / dst_label are columns on the
    edge table, so the matched set is a pure filter — no join, no
    distinct shuffle. Returns None when a property map forces the
    vertex-join path."""
    if _parse_props(m.group("aprops")) or _parse_props(m.group("bprops")):
        return None
    rels = m.group("rels")
    cond = F.lit(True)
    if rels:
        cond = F.col("rel_type").isin([r.strip() for r in rels.split("|")])
    al, bl = m.group("alabel"), m.group("blabel")

    def orient(sl, dl):
        c = F.lit(True)
        if sl:
            c = c & (F.col("src_label") == sl)
        if dl:
            c = c & (F.col("dst_label") == dl)
        return c

    if m.group("rarrow"):
        return cond & orient(al, bl)
    if m.group("larrow"):
        return cond & orient(bl, al)
    return cond & (orient(al, bl) | orient(bl, al))


def _delete_nodes_by_label(
    g: PropertyGraph, label: str | None, detach: bool
) -> tuple[PropertyGraph, int, int]:
    """Node delete for a props-free bare pattern: the matched set is a
    label column predicate on BOTH tables, so the whole delete — the
    incident-edge check included — is filter + count, join-free."""
    vcond = (F.col("label") == label) if label else F.lit(True)
    touch = (
        ((F.col("src_label") == label) | (F.col("dst_label") == label))
        if label
        else F.lit(True)
    )
    n_nodes = g.vertices.filter(vcond).count()
    if n_nodes == 0:
        return g, 0, 0
    if not detach:
        if g.edges.filter(touch).limit(1).count():
            raise ValueError(
                "Cannot delete node, because it still has relationships. "
                "To delete this node, you must first delete its "
                "relationships (or use DETACH DELETE)."
            )
        n_rels = 0
        edges = g.edges
    else:
        n_rels = g.edges.filter(touch).count()
        edges = g.edges.filter(~touch)
    return PropertyGraph(vertices=g.vertices.filter(~vcond), edges=edges), n_nodes, n_rels


def _delete_nodes(g: PropertyGraph, ids: DataFrame, detach: bool) -> tuple[PropertyGraph, int, int]:
    ids = ids.distinct()
    n_nodes = ids.count()
    if n_nodes == 0:
        return g, 0, 0
    if not detach:
        # Neo4j: Neo.ClientError.Schema.ConstraintValidationFailed.
        # Existence only — two broadcast semi-joins short-circuited by
        # limit(1), never a nested-loop OR join.
        still = (
            g.edges.join(F.broadcast(ids.withColumnRenamed("id", "src")), "src", "left_semi")
            .limit(1)
            .count()
            or g.edges.join(F.broadcast(ids.withColumnRenamed("id", "dst")), "dst", "left_semi")
            .limit(1)
            .count()
        )
        if still:
            raise ValueError(
                "Cannot delete node, because it still has relationships. "
                "To delete this node, you must first delete its "
                "relationships (or use DETACH DELETE)."
            )
        n_rels = 0
        edges = g.edges
    else:
        before = g.edges.count()
        edges = g.edges.join(
            F.broadcast(ids.withColumnRenamed("id", "src")), "src", "left_anti"
        ).join(F.broadcast(ids.withColumnRenamed("id", "dst")), "dst", "left_anti")
        n_rels = before - edges.count()
    vertices = g.vertices.join(F.broadcast(ids), "id", "left_anti")
    return PropertyGraph(vertices=vertices, edges=edges), n_nodes, n_rels


def apply_cypher_deletes(graph: PropertyGraph, query: str) -> DeleteResult:
    """Run a script of ``MATCH ... [DETACH] DELETE ...`` statements
    sequentially against ``graph``; each statement sees the graph as
    left by the previous one (Neo4j script semantics, reference
    documentation/queries.md:246-252)."""
    q = re.sub(r"\s+", " ", query.strip())
    parts = [p.strip() for p in re.split(r"(?=\bMATCH\b)", q, flags=re.IGNORECASE) if p.strip()]
    if not parts:
        raise ValueError("empty delete script")

    g = graph
    nodes_deleted = 0
    rels_deleted = 0
    # Each statement's result is pinned: statement k+1's matches and
    # counts would otherwise re-execute the whole anti-join chain of
    # statements 1..k on every action, and the result graph reads the
    # pinned frames. (At real scale a delete rewrites the materialized
    # store — graph/store.py — so the script depth never compounds.)
    def swap(new_g: PropertyGraph, pin_frames: bool = True) -> PropertyGraph:
        # filter-built graphs skip the pin: stacked NOT-predicates
        # collapse into the base scan, so there is nothing to save
        if pin_frames and new_g is not g:
            return PropertyGraph(vertices=pin(new_g.vertices), edges=pin(new_g.edges))
        return new_g

    for stmt in parts:
        sm = _STMT_RE.match(stmt)
        if not sm:
            if re.search(r"\bWHERE\b", stmt, re.IGNORECASE):
                raise NotImplementedError(
                    "cypher_lite DELETE does not take WHERE — fold the "
                    "condition into a {prop: value} map, or compose the "
                    "anti-join directly (graph/mutations.py)"
                )
            raise ValueError(f"unparseable delete statement: {stmt!r}")
        detach = bool(sm.group("detach"))
        targets = [t.strip() for t in sm.group("targets").split(",")]
        pattern = sm.group("pattern").strip()

        bare = _BARE_NODE_RE.match(pattern)
        hop = _HOP_RE.match(pattern)
        if bare:
            var = bare.group("var")
            if targets != [var] or not var:
                raise ValueError(
                    f"DELETE targets {targets} not bound by pattern {pattern!r}"
                )
            if not _parse_props(bare.group("props")):
                new_g, dn, dr = _delete_nodes_by_label(
                    g, bare.group("label"), detach
                )
                g = swap(new_g, pin_frames=False)
            else:
                new_g, dn, dr = _delete_nodes(
                    g, _vertex_ids(g, bare.group("label"), bare.group("props")), detach
                )
                g = swap(new_g)
            nodes_deleted += dn
            rels_deleted += dr
        elif hop:
            evar, avar, bvar = hop.group("evar"), hop.group("avar"), hop.group("bvar")
            node_targets = [t for t in targets if t in (avar, bvar) and t]
            edge_targets = [t for t in targets if t == evar and t]
            unknown = [t for t in targets if t not in node_targets + edge_targets]
            if unknown:
                raise ValueError(
                    f"DELETE targets {unknown} not bound by pattern {pattern!r}"
                )
            if edge_targets and node_targets:
                raise NotImplementedError(
                    "cypher_lite DELETE covers either the relationship "
                    "variable or the node variables of one hop, not both "
                    "in one statement"
                )
            if edge_targets:
                cond = _hop_filter_condition(hop)
                if cond is not None:
                    # props-free endpoints: the matched set is a pure
                    # edge-column predicate — one filter count, no join
                    rels_deleted += g.edges.filter(cond).count()
                    g = swap(
                        PropertyGraph(vertices=g.vertices, edges=g.edges.filter(~cond)),
                        pin_frames=False,
                    )
                else:
                    matched = _matched_edges(g, hop)
                    # rows removed = one semi-join count against the
                    # (small, distinct) matched set — not a before/after
                    # count pair, which would scan the edge chain twice
                    rels_deleted += g.edges.join(
                        matched, ["src", "dst", "rel_type"], "left_semi"
                    ).count()
                    edges = g.edges.join(
                        matched, ["src", "dst", "rel_type"], "left_anti"
                    )
                    g = swap(PropertyGraph(vertices=g.vertices, edges=edges))
            if node_targets:
                if not (hop.group("rarrow") or hop.group("larrow")):
                    # an undirected matched-edge set loses which endpoint
                    # the variable bound to — only edge deletes are
                    # orientation-agnostic
                    raise NotImplementedError(
                        "cypher_lite DELETE of a node variable needs a "
                        "directed hop — direct the pattern"
                    )
                matched = _matched_edges(g, hop)
                ids = None
                for t in node_targets:
                    side = "src" if t == avar else "dst"
                    if hop.group("larrow"):
                        side = "dst" if side == "src" else "src"
                    part_ids = matched.select(F.col(side).alias("id"))
                    ids = part_ids if ids is None else ids.unionByName(part_ids)
                new_g, dn, dr = _delete_nodes(g, ids, detach)
                g = swap(new_g)
                nodes_deleted += dn
                rels_deleted += dr
        else:
            raise NotImplementedError(
                "cypher_lite DELETE covers bare-node and single-hop "
                "patterns (the reference's teardown shapes, "
                "documentation/queries.md:246-252,410-413) — compose "
                "multi-hop deletes from the matched frame directly"
            )
    return DeleteResult(graph=g, nodes_deleted=nodes_deleted, relationships_deleted=rels_deleted)


def delete_counters_df(spark: SparkSession, result: DeleteResult) -> DataFrame:
    """Neo4j-style update counters as a one-row DataFrame."""
    return spark.createDataFrame(
        [(result.nodes_deleted, result.relationships_deleted)],
        "nodes_deleted bigint, relationships_deleted bigint",
    )


def with_vertex_property(
    graph: PropertyGraph,
    prop: str,
    values: DataFrame,
    id_col: str = "id",
    val_col: str | None = None,
) -> PropertyGraph:
    """Attach a computed vertex property — the engine's analog of the
    Neo4j plugin procedures' ``writeProperty`` (reference
    documentation/queries.md:180-182 writes ``pagerank``, :86-90 writes
    ``community``/``partition``): the algorithm result joins on as a
    new vertex column, producing a new immutable graph whose Cypher
    reads of ``n.<prop>`` see REAL values instead of Neo4j's
    missing-property NULL. Vertices absent from ``values`` keep NULL —
    exactly what Neo4j returns for nodes outside the algorithm's
    projection. A pre-existing ``prop`` column is DROPPED before the
    join — Neo4j's property-overwrite semantics: re-running the same
    ``CALL algo.* {write:true}`` on one graph object (legal in Neo4j,
    which overwrites) must replace the column, not join a second
    identically-named one that poisons every later read with
    AMBIGUOUS_REFERENCE (ADVICE r11). One documented divergence:
    vertices outside the NEW projection reset to NULL rather than
    keeping a stale prior value — repeat writes in the reference
    corpus reuse the same (Label, REL) projection, where the two
    semantics coincide. Left join on the vertex id; committing the
    result is a store rewrite (graph/store.py save_graph)."""
    val_col = val_col or prop
    cols = values.columns
    if id_col not in cols or val_col not in cols:
        raise ValueError(f"values needs columns ({id_col!r}, {val_col!r}); has {cols}")
    payload = values.select(F.col(id_col).alias("id"), F.col(val_col).alias(prop))
    verts = graph.vertices
    if prop in verts.columns:
        verts = verts.drop(prop)
    return PropertyGraph(vertices=verts.join(payload, "id", "left"), edges=graph.edges)
