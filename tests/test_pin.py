"""pin() mechanism contract (VERDICT r12 item 4): the local default
cuts lineage via localCheckpoint; SPARK_GRAFT_RELIABLE_PIN=1 routes
the same frame through a reliable checkpoint against the session
checkpoint dir. Both must return identical rows and a lineage-cut
plan (scan of an RDD / checkpoint, no upstream parquet scan)."""

from __future__ import annotations

import ast
import importlib
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from github_miner_spark.functions import pin as pin_mod
from github_miner_spark.graph import algorithms as A
from github_miner_spark.graph import paths as P
from tests.conftest import SF_SMOKE
from tests.gate_utils import only


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_local_pin_cuts_lineage_and_keeps_rows(spark):
    base = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    pinned = pin_mod.pin(base)
    assert _rows(pinned) == _rows(base)
    assert "LogicalRDD" in pinned._jdf.queryExecution().optimizedPlan().toString()


def test_reliable_pin_round_trips(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(pin_mod, "RELIABLE", True)
    monkeypatch.setattr(pin_mod, "CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    # a fresh checkpoint dir must be adopted when none is set; if the
    # session already has one (another test), pin() must keep working
    base = spark.range(50).select(F.col("id"), (F.col("id") % 7).alias("m"))
    pinned = pin_mod.pin(base)
    assert _rows(pinned) == _rows(base)
    assert spark.sparkContext.getCheckpointDir() is not None


def test_env_controls_mechanism(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_PIN", "1")
    importlib.reload(pin_mod)
    assert pin_mod.RELIABLE is True
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_PIN")
    importlib.reload(pin_mod)
    assert pin_mod.RELIABLE is False


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(params=["local", "reliable"])
def mechanism(request, monkeypatch, tmp_path):
    if request.param == "reliable":
        monkeypatch.setattr(pin_mod, "RELIABLE", True)
        monkeypatch.setattr(pin_mod, "CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    return request.param


@pytest.mark.parametrize("n", [0, 1, 257])
def test_pin_counted_matches_pin_then_count(spark, mechanism, n):
    base = spark.range(n).repartition(3).select(F.col("id"), (F.col("id") % 5).alias("m"))
    pinned, count = pin_mod.pin_counted(base)
    reference = pin_mod.pin(base)
    assert count == reference.count() == n
    assert _rows(pinned) == _rows(reference)
    assert "LogicalRDD" in pinned._jdf.queryExecution().optimizedPlan().toString()


def test_pin_counted_saves_the_count_job(spark, mechanism):
    """The count comes from the pin job: one job fewer than an eager
    pin followed by count()."""
    def frame():
        return spark.range(500).repartition(3).select(F.col("id"), (F.col("id") * 3).alias("v"))

    (_, n), counted_jobs = _jobs_in_group(
        spark, f"pin-counted-{mechanism}", lambda: pin_mod.pin_counted(frame())
    )
    m, two_step_jobs = _jobs_in_group(
        spark,
        f"pin-then-count-{mechanism}",
        lambda: pin_mod._checkpoint(frame(), eager=True).count(),
    )
    assert n == m == 500
    assert len(counted_jobs) <= len(two_step_jobs) - 1


_MECHANISM_CALLS = {"localCheckpoint", "checkpoint", "cache", "persist"}


def test_no_pin_mechanism_outside_pin_module():
    """Every lineage cut goes through functions/pin.py, so the
    mechanism (local or reliable checkpoint, never a CacheManager
    persist) is chosen in one place. No allowlist."""
    pkg = pathlib.Path(pin_mod.__file__).resolve().parents[1]
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pathlib.Path(pin_mod.__file__).resolve():
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MECHANISM_CALLS
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno} {node.func.attr}")
    assert offenders == []


def _eager_pin_here(df):
    return pin_mod.pin(df, eager=True)


def test_eager_pin_job_is_named_after_its_caller(spark, mechanism):
    """The checkpoint job's stages carry ``<mechanism> at
    <module>.<function>``; the caller's call-site property is restored
    afterwards."""
    sc = spark.sparkContext
    sc.setLocalProperty("callSite.short", "outer")
    try:
        _, job_ids = _jobs_in_group(
            spark, f"pin-name-{mechanism}",
            lambda: _eager_pin_here(spark.range(40).repartition(2)),
        )
        assert sc.getLocalProperty("callSite.short") == "outer"
    finally:
        sc.setLocalProperty("callSite.short", None)
    tracker = sc.statusTracker()
    names = {
        tracker.getStageInfo(s).name
        for j in job_ids
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    }
    method = "checkpoint" if mechanism == "reliable" else "localCheckpoint"
    assert names == {f"{method} at {__name__}._eager_pin_here"}


# --- the distributed loops under both mechanisms ------------------------

_CYCLIC = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6), (7, 7), (8, 9)]
_DAG = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (2, 5), (6, 7)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def _nodes(pairs):
    return sorted({v for e in pairs for v in e})


def _case_cc(spark, tmp_path):
    with only(connected_components="distributed"):
        got = A.connected_components(_edges(spark, _CYCLIC)).collect()
    want = A._union_find_components(_nodes(_CYCLIC), [e for e in _CYCLIC if e[0] != e[1]])
    return sorted(map(tuple, got)), sorted(want.items())


def _case_scc(spark, tmp_path):
    with only(
        strongly_connected_components="distributed",
        scc_component="distributed",
        connected_components="distributed",
    ):
        got = A.strongly_connected_components(_edges(spark, _CYCLIC)).collect()
    want = A._tarjan_components([e for e in _CYCLIC if e[0] != e[1]], _nodes(_CYCLIC))
    return sorted(map(tuple, got)), sorted(want.items())


def _case_closure(spark, tmp_path):
    with only(closure_path_counts="distributed"):
        got = P.closure_path_counts(_edges(spark, _DAG), roots=[1, 6]).collect()
    adj = {}
    for a, b in _DAG:
        adj.setdefault(a, []).append(b)
    want = {}

    def walk(root, node):
        for nxt in adj.get(node, []):
            want[(root, nxt)] = want.get((root, nxt), 0) + 1
            walk(root, nxt)

    for root in (1, 6):
        walk(root, root)
    return sorted(map(tuple, got)), sorted((r, n, c) for (r, n), c in want.items())


def _case_insert(spark, tmp_path):
    from github_miner_spark.etl.insert import run_insert_job
    from tests.insert_reference import reference_batch

    registry = [
        {"name": "lodash", "dependencies": {"chalk": "^5.0.0"},
         "devDependencies": None, "peerDependencies": None},
        {"name": "chalk", "dependencies": {"ansi": "1.0.0"},
         "devDependencies": {"jest": "^29.0.0"}, "peerDependencies": None},
        {"name": "ansi", "dependencies": {"chalk": "^5.0.0"},
         "devDependencies": None, "peerDependencies": None},
    ]
    npm = spark.createDataFrame(
        [tuple(r.values()) for r in registry],
        "name string, dependencies map<string,string>, "
        "devDependencies map<string,string>, peerDependencies map<string,string>",
    )
    batch = [("alice", "app", {"name": "app", "dependencies": {"lodash": "^4.0.0"}})]
    lake = tmp_path / "lake" / "alice" / "app"
    lake.mkdir(parents=True)
    (lake / "package.json").write_text(json.dumps(batch[0][2]))
    vp, ep = str(tmp_path / "vertices"), str(tmp_path / "edges")
    counts = [run_insert_job(spark, str(tmp_path / "lake"), npm, vp, ep) for _ in range(2)]
    stored = {tuple(r) for r in spark.read.parquet(vp).select("id", "label", "name").collect()}
    want_v, want_e = reference_batch(registry, batch)
    want_counts = {"vertices": len(want_v), "edges": len(want_e)}
    return (counts, stored), ([want_counts, want_counts], want_v)


def _checkpoint_rdds(spark):
    """Ids of the RDDs whose reliable checkpoint is on disk now."""
    root = spark.sparkContext.getCheckpointDir()
    root = root and root.removeprefix("file:")
    if not root or not os.path.isdir(root):
        return set()
    return {int(d.removeprefix("rdd-")) for d in os.listdir(root) if d.startswith("rdd-")}


@pytest.mark.parametrize("case", [_case_cc, _case_scc, _case_closure, _case_insert],
                         ids=["connected_components", "strongly_connected_components",
                              "closure_path_counts", "run_insert_job"])
def test_distributed_loops_under_both_mechanisms(spark, monkeypatch, mechanism, tmp_path, case):
    """Each loop returns the reference rows under either mechanism, and
    under the reliable one its pins land in the checkpoint dir. The
    dir is read right after each eager pin, while the pinned frame is
    still referenced: the context cleaner may delete a dropped pin's
    files at any later JVM GC."""
    sc = spark.sparkContext
    on_disk: set[int] = set()
    if mechanism == "reliable":
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(pin_mod.CHECKPOINT_DIR)
        real = pin_mod._checkpoint

        def spy(df, eager):
            pinned = real(df, eager)
            on_disk.update(_checkpoint_rdds(spark))
            return pinned

        monkeypatch.setattr(pin_mod, "_checkpoint", spy)
    before = max(_checkpoint_rdds(spark), default=-1)
    got, want = case(spark, tmp_path)
    assert got == want
    if mechanism == "reliable":
        assert max(on_disk, default=-1) > before


def test_reliable_pin_files_go_with_the_frame(spark, monkeypatch, tmp_path):
    """Once a reliably pinned frame is dropped and the JVM collects its
    RDD, Spark's context cleaner deletes the pin's checkpoint dir."""
    import gc
    import time

    monkeypatch.setattr(pin_mod, "RELIABLE", True)
    monkeypatch.setattr(pin_mod, "CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    before = _checkpoint_rdds(spark)
    pinned = pin_mod.pin(spark.range(100).select((F.col("id") * 2).alias("v")), eager=True)
    assert pinned.count() == 100
    mine = _checkpoint_rdds(spark) - before
    assert mine
    del pinned
    deadline = time.monotonic() + 30
    while mine & _checkpoint_rdds(spark) and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert not mine & _checkpoint_rdds(spark)


# --- job budgets of the collapsed probes --------------------------------


def test_connected_components_counts_pairs_inside_the_pin_job(spark, monkeypatch):
    """Before the first star-contraction round the distributed path runs
    one action: the pairs pin, which also counts them, with the lazy
    input pin riding inside it (AQE submits its shuffle map stage as a
    job of its own, so two jobs). An eager input pin, the pairs pin, a
    count and an emptiness probe ran five."""
    sc = spark.sparkContext
    group = "cc-pre-loop"
    seen = []
    real = P._loop_shuffle_partitions

    def spy(*args, **kwargs):
        seen.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "_loop_shuffle_partitions", spy)
    with only(connected_components="distributed"):
        rows, _ = _jobs_in_group(
            spark, group, lambda: A.connected_components(_edges(spark, _CYCLIC)).collect()
        )
    assert len(seen) == 1 and seen[0] <= 2
    assert len({c for _, c in rows}) == 3


def test_unigram_em_round_job_budget(spark, monkeypatch):
    """One EM round's normalizer comes from the counts pin job: a round
    runs 8 jobs here, 10 with a separate sum-and-collect (an aggregate
    whose shuffle stage AQE submits as a job of its own)."""
    from github_miner_spark.functions import unigram_store as U

    def jobs_with(rounds):
        monkeypatch.setattr(U, "EM_ROUNDS", rounds)
        _, job_ids = _jobs_in_group(
            spark, f"unigram-em-{rounds}", lambda: U.build_unigram_model(spark, SF_SMOKE)
        )
        return len(job_ids)

    assert jobs_with(2) - jobs_with(1) <= 9


def test_scc_peel_round_job_budget(spark):
    """The FW-BW peel round on one ~2k-vertex SCC (the graph of
    test_distributed_scc_fwbw_coloring_on_single_giant_scc): the
    emptiness and stability probes and the trim's edge count come from
    the pin jobs, so the distributed call runs 287 jobs here (322 with
    separate probe jobs)."""
    n = 2_000
    base = spark.range(n)
    edges = (
        base.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
        .unionByName(base.select(F.col("id").alias("src"), ((F.col("id") * 3 + 7) % n).alias("dst")))
        .localCheckpoint(eager=True)
    )
    with only(
        strongly_connected_components="distributed",
        scc_component="distributed",
        connected_components="distributed",
    ):
        rows, jobs = _jobs_in_group(
            spark, "scc-peel-round", lambda: A.strongly_connected_components(edges).collect()
        )
    assert len(rows) == n and len({c for _, c in rows}) == 1
    assert len(jobs) <= 300
