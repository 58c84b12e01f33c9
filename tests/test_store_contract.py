"""The store contract, once for every materializer: a second call is a
hit (same path, nothing rewritten), every spec version participates in
the address, an incomplete store on disk is rebuilt rather than served,
every artifact reads back with its footer schema, no materializer
hand-rolls its own publish step, and no package code reads parquet
without a schema."""

from __future__ import annotations

import ast
import os
import pathlib
from collections.abc import Callable
from typing import NamedTuple

import pytest

from github_miner_spark.functions import (
    bpe_store,
    clustered_store,
    graph_stats_store,
    int8_store,
    ivf_store,
    ivfpq_store,
    pq_store,
    text_store,
    unigram_store,
    walk_store,
    wordpiece_store,
)
from github_miner_spark.graph import store as graph_store
from github_miner_spark.io.store_key import read_store
from tests.conftest import SF_SMOKE

SF = SF_SMOKE


class Case(NamedTuple):
    materialize: Callable[..., str]
    # the path the materializer returns (the store layout contract)
    path: Callable[[str], str]
    # (module, attribute) of the spec version folded into ``path``
    spec: tuple[object, str] | None = None


def _in(module, name: str) -> Callable[[str], str]:
    return lambda sf: os.path.join(module._store_dir(sf), name)


CASES = {
    "graph": Case(graph_store.materialize_graph, graph_store._store_dir),
    "bpe": Case(
        bpe_store.materialize_bpe_merges,
        bpe_store._store_dir,
        (bpe_store, "BPE_SPEC_VERSION"),
    ),
    "clustered": Case(
        clustered_store.materialize_clu_truth,
        _in(clustered_store, "clu_truth.parquet"),
        (clustered_store, "CLU_TRUTH_SPEC_VERSION"),
    ),
    "graph_stats": Case(
        graph_stats_store.materialize_anchor_reach,
        _in(graph_stats_store, "anchor_reach.parquet"),
        (graph_stats_store, "ANCHOR_REACH_SPEC_VERSION"),
    ),
    "int8": Case(int8_store.materialize_int8_codes, int8_store._store_dir),
    "ivf": Case(ivf_store.materialize_ivf_index, ivf_store._store_dir),
    "ivf_lloyd": Case(ivf_store.materialize_ivf_lloyd_index, ivf_store._store_dir),
    "ivf_incr_base": Case(
        ivf_store.materialize_incremental_ivf_base, ivf_store._store_dir
    ),
    "ivf_incr_delta": Case(ivf_store.ivf_delta_append, ivf_store._store_dir),
    "ivfpq": Case(
        ivfpq_store.materialize_ivfpq_index,
        ivfpq_store._store_dir,
        (ivfpq_store, "IVFPQ_SPEC_VERSION"),
    ),
    "pq": Case(pq_store.materialize_pq_codes, pq_store._store_dir),
    "text": Case(text_store.materialize_text_index, text_store._store_dir),
    "dup_pairs": Case(
        text_store.materialize_dup_pairs, _in(text_store, "dup_pairs_t80.parquet")
    ),
    "source_overlap": Case(
        text_store.materialize_source_overlap,
        lambda sf: os.path.join(
            text_store._store_dir(sf),
            f"source_overlap_{text_store.SOURCE_OVERLAP_VERSION}",
        ),
        (text_store, "SOURCE_OVERLAP_VERSION"),
    ),
    "unigram": Case(
        unigram_store.materialize_unigram_model,
        unigram_store._store_dir,
        (unigram_store, "UNIGRAM_SPEC_VERSION"),
    ),
    "walk": Case(
        lambda spark, sf: walk_store.materialize_walks(spark, sf, "det"),
        walk_store._store_dir,
        (walk_store, "WALK_SPEC_VERSION"),
    ),
    "wordpiece": Case(
        wordpiece_store.materialize_wordpiece_merges,
        wordpiece_store._store_dir,
        (wordpiece_store, "WP_SPEC_VERSION"),
    ),
}

SPEC_CASES = [name for name, case in CASES.items() if case.spec is not None]


def _mtimes(path: str) -> dict[str, int]:
    return {
        str(p.relative_to(path)): p.stat().st_mtime_ns
        for p in pathlib.Path(path).rglob("*")
    }


@pytest.mark.parametrize("name", list(CASES))
def test_second_call_is_a_hit(spark, name):
    case = CASES[name]
    path = case.materialize(spark, SF)
    assert path == case.path(SF)
    before = _mtimes(path)
    assert before, f"{name}: empty store"
    assert case.materialize(spark, SF) == path
    assert _mtimes(path) == before


@pytest.mark.parametrize("name", SPEC_CASES)
def test_spec_version_moves_address(monkeypatch, name):
    case = CASES[name]
    module, attr = case.spec
    before = case.path(SF)
    monkeypatch.setattr(module, attr, "test-bump")
    assert case.path(SF) != before


def _parquet_artifacts(path: str) -> list[str]:
    """Every Spark parquet output dir at or under ``path``."""
    return sorted(
        str(d)
        for d in [pathlib.Path(path), *pathlib.Path(path).rglob("*")]
        if d.is_dir() and any(f.name.startswith("part-") for f in d.iterdir())
    )


@pytest.mark.parametrize("name", list(CASES))
def test_read_store_schema_matches_inference(spark, name):
    """The footer schema ``read_store`` passes is the schema Spark's
    own inference returns, for every artifact the store publishes."""
    artifacts = _parquet_artifacts(CASES[name].materialize(spark, SF))
    assert artifacts, f"{name}: no parquet artifact"
    for path in artifacts:
        assert read_store(spark, path).schema == spark.read.parquet(path).schema, path


def test_partial_graph_store_is_rebuilt_not_served(spark, monkeypatch, tmp_path):
    """A key dir holding only vertices.parquet (a foreign or
    half-copied store) must be replaced by a complete build."""
    from github_miner_spark.graph.model import build_edges, build_vertices

    monkeypatch.setattr(graph_store, "STORE_ROOT", str(tmp_path))
    key = graph_store._store_dir(SF)
    os.makedirs(os.path.join(key, "vertices.parquet"))

    assert graph_store.materialize_graph(spark, SF) == key
    g = graph_store.load_graph(spark, SF)
    assert g.vertices.count() == build_vertices(spark, SF).count()
    assert g.edges.count() == build_edges(spark, SF).count()
    assert os.listdir(tmp_path) == [os.path.basename(key)]


def test_int8_key_dir_with_stray_file_is_rebuilt(spark, monkeypatch, tmp_path):
    from github_miner_spark.io.tables import load_table

    monkeypatch.setattr(int8_store, "STORE_ROOT", str(tmp_path))
    key = int8_store._store_dir(SF)
    os.makedirs(key)
    with open(os.path.join(key, "stray.txt"), "w") as f:
        f.write("not a store")

    assert int8_store.materialize_int8_codes(spark, SF) == key
    codes = int8_store.load_int8_codes(spark, SF)
    assert codes.count() == load_table(spark, "embeddings", SF).count()
    assert os.listdir(tmp_path) == [os.path.basename(key)]


# qualified and from-imported spellings of the staging / rename / delete calls
_PUBLISH_CALLS = {
    "tempfile.mkdtemp",
    "os.rename",
    "shutil.rmtree",
    "mkdtemp",
    "rename",
    "rmtree",
}


def _call_name(f: ast.expr) -> str | None:
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        return f"{f.value.id}.{f.attr}"
    return f.id if isinstance(f, ast.Name) else None


def _materializers():
    pkg = pathlib.Path(graph_store.__file__).resolve().parents[1]
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and (
                node.name.startswith("materialize_") or node.name == "ivf_delta_append"
            ):
                yield path.relative_to(pkg.parent), node


def test_no_materializer_hand_rolls_a_publish_step():
    """Every materializer publishes through io/store_key.py:publish;
    staging, renaming or deleting a store dir inline is how the copies
    drifted apart before."""
    found, offenders = 0, []
    for path, fn in _materializers():
        found += 1
        offenders += [
            f"{path}:{node.lineno} {fn.name} calls {_call_name(node.func)}"
            for node in ast.walk(fn)
            if isinstance(node, ast.Call) and _call_name(node.func) in _PUBLISH_CALLS
        ]
    assert found == 17, f"expected 17 materializers, scanned {found}"
    assert offenders == []


# Readers whose schema is whatever the caller wrote, so there is no
# fixed schema to pass: "<path>:<function>" -> why.
_SCHEMALESS_READ_ALLOWLIST = {
    "github_miner_spark/io/sinks.py:restore": (
        "reads back a snapshot of any frame the caller saved"
    ),
    "github_miner_spark/streaming/mining.py:read_drained": (
        "reads the streaming sink through its transaction log; the "
        "schema is the caller's stream's"
    ),
}


def _is_schemaless_parquet_read(call: ast.Call) -> bool:
    """``<x>.read[.<opt>(...)...].parquet(...)`` with no ``.schema(...)``
    in the chain."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "schema":
            return False
        node = node.func.value
    return isinstance(node, ast.Attribute) and node.attr == "read"


def _schemaless_parquet_reads(pkg: pathlib.Path):
    """(``<path>:<innermost enclosing function>``, line) per read."""
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        fns = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _is_schemaless_parquet_read(node):
                owner = max(
                    (f for f in fns if f.lineno <= node.lineno <= f.end_lineno),
                    key=lambda f: f.lineno,
                    default=None,
                )
                name = owner.name if owner else "<module>"
                yield f"{path.relative_to(pkg.parent)}:{name}", node.lineno


def test_no_schemaless_parquet_read():
    """A bare ``spark.read.parquet`` runs a schema-inference job per
    read. Store artifacts go through io/store_key.py:read_store; other
    reads pass their schema. Only caller-shaped readers are exempt."""
    pkg = pathlib.Path(graph_store.__file__).resolve().parents[1]
    found = {}
    for site, lineno in _schemaless_parquet_reads(pkg):
        found.setdefault(site, lineno)
    offenders = sorted(f"{s}:{n}" for s, n in found.items() if s not in _SCHEMALESS_READ_ALLOWLIST)
    assert offenders == []
    # a stale entry would silently exempt whatever is added under its name
    assert set(_SCHEMALESS_READ_ALLOWLIST) <= set(found)
