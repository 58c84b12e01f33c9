"""Deterministic inputs for the benchmark.

Two generators:

- ``write_tables``: the ten base tables (TPC-H-ish star schema plus
  events, documents and embeddings) that the query workloads read, in
  the schemas of ``github_miner_spark.io.tables``. The query workloads
  use one fixed data seed, so their expected result digests can be
  committed next to the benchmark; the run seed only permutes op order.
- ``make_lake``: a file-per-repo ``package.json`` lake split into
  batches plus an npm-registry table, drawn from the run seed. Module
  popularity is Zipf (hub modules), names are plain or ``@scope/``
  scoped, dependencies form cycles and self-loops, and some names are
  missing from the registry. ``reference_graph`` replays the insert
  job's semantics in pure Python to give the expected store.

Only numpy and pyarrow are used, so the inputs are byte-identical for a
given seed whatever Spark does.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Row counts at the benchmark's scale (TESTDATA.md's sf0.001 shape).
# The query workloads are bound by per-job overhead, not by data volume.
SIZES = {
    "customer": 150,
    "orders": 1500,
    "lineitem": 6000,
    "part": 200,
    "supplier": 10,
    "documents": 500,
    "embeddings": 500,
    "events": 1000,
}

_WORDS = (
    "the a data query spark table join scan filter agg sort group window "
    "stream batch row column key value hash merge order part line customer "
    "fast slow big small vector"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "cold", "large", "green", "shiny", "old"]
_PART_NOUN = ["widget", "ring", "bolt", "anvil", "gear", "spring", "valve", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    us = (offsets.astype(np.int64) * 86_400_000_000) + int(
        (base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """The ten base tables as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }
    )
    o_dates = rng.integers(0, 2404, n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(_EPOCH_1995, o_dates),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
        }
    )
    li_order = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n["lineitem"]), 2),
            "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
            "l_shipdate": _days(_EPOCH_1995, o_dates[li_order] + rng.integers(1, 122, n["lineitem"])),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    ev_n = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ev_n))
    base_us = int((_EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ev_n), pa.int64()),
            "ts": pa.array(ev_us + base_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(ev_n // 66, 2), ev_n), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ev_n, p=[0.35, 0.05, 0.1, 0.05, 0.45]).tolist(),
            "value": np.round(rng.exponential(40.0, ev_n) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ev_n)],
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and r < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = "dup"  # near duplicate: one word changed
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k).tolist()))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dims: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (k, dims))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, dims))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int = TABLE_SEED) -> int:
    """Write the base tables as ``<out_dir>/<name>.parquet``; return
    the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# --- lake_ingest -----------------------------------------------------------

LAKE_MODULES = 400
LAKE_BATCHES = 2  # the base batch and one delta
LAKE_REPOS_PER_BATCH = 30
LAKE_HUBS = 10
_MISSING_SHARE = 0.08


def _module_names(rng: np.random.Generator, n: int) -> list[str]:
    names = []
    for i in range(n):
        if rng.random() < 0.2:
            names.append(f"@scope{int(rng.integers(0, 12))}/pkg-{i}")
        else:
            names.append(f"mod-{i}")
    return names


def _version(rng: np.random.Generator) -> str:
    prefix = ["^", "~", ""][int(rng.integers(0, 3))]
    return f"{prefix}{int(rng.integers(0, 9))}.{int(rng.integers(0, 20))}.{int(rng.integers(0, 10))}"


def make_lake(seed: int) -> tuple[list[dict], list[list[tuple[str, str, dict]]]]:
    """Return (registry rows, batches). A registry row is
    ``{name, dependencies, devDependencies, peerDependencies}``; a batch
    is a list of ``(owner, repo, manifest)``.

    The seed draws names, versions and which modules depend on which;
    the shape that sets the cost is fixed, so runs with different seeds
    do the same amount of work. Modules are in two tiers: the first
    half (the Zipf-popular one, hubs first) has main dependencies on
    the second half, which has none but self-loops and cycle-closing
    edges back to hubs. Dev and peer targets are second-tier modules,
    and the first repo of every batch depends on every hub, so each
    batch's closure takes exactly two levels."""
    rng = np.random.default_rng(seed)
    names = _module_names(rng, LAKE_MODULES)
    half = LAKE_MODULES // 2
    ranks = np.arange(1, LAKE_MODULES + 1, dtype=np.float64)
    zipf = 1.0 / ranks**1.1
    missing = [f"ghost-{i}" for i in range(int(LAKE_MODULES * _MISSING_SHARE))]
    hubs = names[:LAKE_HUBS]

    def pick(k: int, lo: int = 0) -> list[str]:
        """k distinct dependency targets, Zipf over modules from index
        ``lo`` on, occasionally plus a name the registry lacks."""
        w = zipf[lo:] / zipf[lo:].sum()
        idx = rng.choice(np.arange(lo, LAKE_MODULES), size=k, replace=False, p=w)
        out = [names[i] for i in idx]
        if rng.random() < 0.15:
            out.append(missing[int(rng.integers(0, len(missing)))])
        return out

    registry = []
    for i, name in enumerate(names):
        deps = pick(2, half) if i < half else []
        if rng.random() < 0.05:
            deps.append(name)  # self-loop
        if rng.random() < 0.08:
            deps.append(hubs[int(rng.integers(0, LAKE_HUBS))])  # closes a cycle
        dev = pick(int(rng.integers(1, 3)), half) if rng.random() < 0.5 else []
        peer = pick(1, half) if rng.random() < 0.15 else []
        registry.append(
            {
                "name": name,
                "dependencies": {d: _version(rng) for d in deps} or None,
                "devDependencies": {d: _version(rng) for d in dev} or None,
                "peerDependencies": {d: _version(rng) for d in peer} or None,
            }
        )

    batches = []
    for b in range(LAKE_BATCHES):
        batch = []
        for r in range(LAKE_REPOS_PER_BATCH):
            owner = f"user{int(rng.integers(0, 60))}"
            repo = f"repo-{b}-{r}"
            manifest = {
                "name": repo,
                "version": _version(rng).lstrip("^~"),
                "dependencies": {
                    d: _version(rng) for d in (hubs if r == 0 else pick(int(rng.integers(1, 5))))
                },
            }
            if rng.random() < 0.6:
                manifest["devDependencies"] = {d: _version(rng) for d in pick(int(rng.integers(1, 3)))}
            if rng.random() < 0.1:
                manifest["peerDependencies"] = {d: _version(rng) for d in pick(1)}
            batch.append((owner, repo, manifest))
        batches.append(batch)
    return registry, batches


def write_lake(out_dir: str, seed: int) -> tuple[list[str], str, int, list[dict], list]:
    """Write each batch as ``<out_dir>/batch<i>/<owner>/<repo>/package.json``
    and the registry as ``<out_dir>/registry.parquet``. Returns (batch
    dirs, registry path, lake bytes, registry rows, batches)."""
    registry, batches = make_lake(seed)
    dirs, lake_bytes = [], 0
    for i, batch in enumerate(batches):
        bdir = os.path.join(out_dir, f"batch{i}")
        for owner, repo, manifest in batch:
            d = os.path.join(bdir, owner, repo)
            os.makedirs(d, exist_ok=True)
            body = json.dumps(manifest, sort_keys=True).encode()
            with open(os.path.join(d, "package.json"), "wb") as f:
                f.write(body)
            lake_bytes += len(body)
        dirs.append(bdir)
    dep_type = pa.map_(pa.string(), pa.string())

    def as_map(m: dict | None):
        return None if m is None else sorted(m.items())

    table = pa.table(
        {
            "name": [r["name"] for r in registry],
            "dependencies": pa.array([as_map(r["dependencies"]) for r in registry], dep_type),
            "devDependencies": pa.array([as_map(r["devDependencies"]) for r in registry], dep_type),
            "peerDependencies": pa.array([as_map(r["peerDependencies"]) for r in registry], dep_type),
        }
    )
    reg_path = os.path.join(out_dir, "registry.parquet")
    pq.write_table(table, reg_path)
    return dirs, reg_path, lake_bytes, registry, batches


_REL = (
    ("dependencies", "DEPENDS_ON"),
    ("devDependencies", "DEV_DEPENDS_ON"),
    ("peerDependencies", "PEER_DEPENDS_ON"),
)


def _edges_of(src: str, manifest: dict, label: str, fields: Iterable[str]) -> set[tuple]:
    out = set()
    for field, rel in _REL:
        if field in fields:
            for dst, ver in (manifest.get(field) or {}).items():
                out.add((src, dst, rel, label, "NodeModule", ver))
    return out


def reference_batch(registry: list[dict], batch: list[tuple[str, str, dict]]) -> tuple[set, set, int]:
    """One insert-job batch in pure Python: (vertices, edges, closure
    levels). Vertices are (id, label, name); edges are (src, dst,
    rel_type, src_label, dst_label, version). Repo-seeded modules expand
    all three dependency maps, deeper modules only ``dependencies``;
    names the registry lacks stay as vertices and stop the recursion."""
    by_name = {r["name"]: r for r in registry}
    vertices, edges = set(), set()
    for owner, repo, manifest in batch:
        rid = f"{owner}/{repo}"
        vertices.add((owner, "GitUser", owner))
        vertices.add((rid, "GitRepo", repo))
        edges.add((owner, rid, "OWNS", "GitUser", "GitRepo", None))
        edges |= _edges_of(rid, manifest, "GitRepo", {f for f, _ in _REL})
    frontier = {e[1] for e in edges if e[2] != "OWNS"}
    resolved: set[str] = set()
    levels = 0
    while frontier:
        resolved |= frontier
        known = sorted(n for n in frontier if n in by_name)
        if not known:
            break
        levels += 1
        fields = {f for f, _ in _REL} if levels == 1 else {"dependencies"}
        new_edges = set()
        for name in known:
            new_edges |= _edges_of(name, by_name[name], "NodeModule", fields)
        edges |= new_edges
        frontier = {e[1] for e in new_edges} - resolved
    vertices |= {(n, "NodeModule", n) for n in resolved}
    return vertices, edges, levels


def reference_graph(registry: list[dict], batches: list) -> tuple[set, set]:
    """Expected store after merging every batch (MERGE keeps the first
    row per key; keys never carry two values here)."""
    vertices, edges = set(), set()
    for batch in batches:
        v, e, _ = reference_batch(registry, batch)
        vertices |= v
        edges |= e
    return vertices, edges
