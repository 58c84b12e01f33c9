"""Span tracing from outside the program.

The tracer wraps the public functions of each layer module and rebinds
the wrapper everywhere the original function object is reachable: in
its defining module and in every loaded ``github_miner_spark`` module
that imported it with ``from ... import``. Spans (name, layer, start,
end, parent, op id) are kept in memory; the benchmark aggregates them
when the run ends. A layer's self time is the sum over its spans of the
span's duration minus the durations of its direct child spans.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

# layer name -> modules whose public functions form the layer
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("github_miner_spark.session",),
    "store": (
        "github_miner_spark.graph.store",
        "github_miner_spark.io.bucketed",
        "github_miner_spark.functions.bpe_store",
        "github_miner_spark.functions.clustered_store",
        "github_miner_spark.functions.graph_stats_store",
        "github_miner_spark.functions.int8_store",
        "github_miner_spark.functions.ivf_store",
        "github_miner_spark.functions.ivfpq_store",
        "github_miner_spark.functions.pq_store",
        "github_miner_spark.functions.text_store",
        "github_miner_spark.functions.unigram_store",
        "github_miner_spark.functions.walk_store",
        "github_miner_spark.functions.wordpiece_store",
    ),
    "graph.algorithms": ("github_miner_spark.graph.algorithms",),
    "graph.paths": ("github_miner_spark.graph.paths",),
    "graph.procedures": ("github_miner_spark.graph.procedures",),
    "graph.mutations": ("github_miner_spark.graph.mutations",),
    "cypher": ("github_miner_spark.cypher",),
    "functions.text": ("github_miner_spark.functions.text",),
    "functions.dedup": ("github_miner_spark.functions.dedup",),
    "functions.similarity": ("github_miner_spark.functions.similarity",),
    "functions.pin": ("github_miner_spark.functions.pin",),
    "etl.read_lake": ("github_miner_spark.etl.package_json:read_manifest_lake",),
    "etl.closure": ("github_miner_spark.etl.insert:expand_module_closure",),
    "etl.level": ("github_miner_spark.etl.insert:_manifest_edges",),
    "etl.insert": ("github_miner_spark.etl.insert:run_insert_job",),
}

# store functions that may build; a call that adds an entry under a
# store root is a build, one that adds none is a hit
_STORE_ENTRY_PREFIXES = ("materialize_", "ensure_", "ivf_delta_append", "load_graph")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    children_s: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def store_entries(roots: list[str]) -> set[str]:
    """Completed store entries under the roots (in-progress
    ``building-*`` temp dirs excluded)."""
    out = set()
    for r in roots:
        try:
            names = os.listdir(r)
        except FileNotFoundError:
            continue
        out.update(os.path.join(r, n) for n in names if not n.startswith("building-"))
    return out


class Tracer:
    """Records spans while ``enabled``; wrappers stay installed and cost
    one attribute check when disabled."""

    def __init__(self, store_roots: list[str]):
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self.store_roots = store_roots

    # -- spans ----------------------------------------------------------
    def begin(self, name: str, layer: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(name, layer, time.perf_counter(), parent=parent, op=self.op))
        idx = len(self.spans) - 1
        self.stack.append(idx)
        return idx

    def end(self, idx: int) -> Span:
        s = self.spans[idx]
        s.end = time.perf_counter()
        self.stack.pop()
        if s.parent >= 0:
            self.spans[s.parent].children_s += s.dur
        return s

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = self.begin(name, layer)
        try:
            yield
        finally:
            self.end(idx)

    def _wrap(self, fn: Callable, layer: str) -> Callable:
        tracer = self
        is_store_entry = layer == "store" and fn.__name__.startswith(_STORE_ENTRY_PREFIXES)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            outer_store = is_store_entry and not any(
                tracer.spans[i].info.get("store_entry") for i in tracer.stack
            )
            before = store_entries(tracer.store_roots) if outer_store else None
            idx = tracer.begin(fn.__qualname__, layer)
            if is_store_entry:
                tracer.spans[idx].info["store_entry"] = True
            try:
                return fn(*args, **kwargs)
            finally:
                s = tracer.end(idx)
                if before is not None:
                    new = store_entries(tracer.store_roots) - before
                    s.info["builds"] = len(new)
                    s.info["bytes"] = sum(dir_bytes(p) for p in new)

        return wrapper

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap every layer function and rebind each alias of it in the
        loaded ``github_miner_spark`` modules."""
        targets: dict[int, tuple[Callable, Callable]] = {}
        for layer, specs in LAYERS.items():
            for spec in specs:
                modname, _, only = spec.partition(":")
                mod = sys.modules.get(modname)
                if mod is None:
                    __import__(modname)
                    mod = sys.modules[modname]
                for name, obj in list(vars(mod).items()):
                    if only and name != only:
                        continue
                    if not only and name.startswith("_"):
                        continue
                    if inspect.isfunction(obj) and obj.__module__ == modname:
                        targets[id(obj)] = (obj, self._wrap(obj, layer))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("github_miner_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(orig)
        def parquet(writer, path, *args, **kwargs):
            if not tracer.enabled:
                return orig(writer, path, *args, **kwargs)
            idx = tracer.begin("DataFrameWriter.parquet", "io.parquet_write")
            try:
                return orig(writer, path, *args, **kwargs)
            finally:
                tracer.end(idx).info["bytes"] = dir_bytes(path)

        DataFrameWriter.parquet = parquet
