"""E2 insert-stage end-to-end: manifest lake -> property graph with
recursive npm closure, cycle-safe and idempotent."""

from __future__ import annotations

import json

import pytest

from github_miner_spark.etl.insert import expand_module_closure, run_insert_job

BASE_REPOS = [
    ("alice", "app", {"name": "app", "dependencies": {"lodash": "^4.0.0"},
                      "devDependencies": {"jest": "^29.0.0"}}),
    ("bob", "tool", {"name": "tool", "dependencies": {"chalk": "~5.0.0"}}),
]
# a second batch: ansi is repo-seeded here, so its devDeps expand (R2)
DELTA_REPOS = [
    ("carol", "web", {"name": "web", "dependencies": {"react": "18.0.0"},
                      "devDependencies": {"ansi": "1.0.0"}}),
]


def _write_lake(tmp_path, repos=BASE_REPOS, name="lake"):
    lake = tmp_path / name
    for owner, repo, manifest in repos:
        d = lake / owner / repo
        d.mkdir(parents=True)
        (d / "package.json").write_text(json.dumps(manifest))
    return str(lake)


def _npm_table(spark):
    rows = [
        ("lodash", {"chalk": "^5.0.0"}, None, None),
        # chalk is repo-seeded: its devDeps expand ONE level (R2)
        ("chalk", {"ansi": "1.0.0"}, {"jest": "^29.0.0"}, None),
        # ansi is depth>0: its devDeps must NOT expand
        ("ansi", {"chalk": "^5.0.0"}, {"deep-dev": "1.0.0"}, None),  # + cycle chalk->ansi->chalk
        ("jest", {"left-pad": "1.0.0"}, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "name string, dependencies map<string,string>, "
        "devDependencies map<string,string>, peerDependencies map<string,string>",
    )


def test_insert_job_closure_and_idempotence(spark, tmp_path):
    lake = _write_lake(tmp_path)
    npm = _npm_table(spark)
    vp, ep = str(tmp_path / "vertices"), str(tmp_path / "edges")

    first = run_insert_job(spark, lake, npm, vp, ep)
    v = {(r["id"], r["label"]) for r in spark.read.parquet(vp).collect()}
    e = {
        (r["src"], r["dst"], r["rel_type"])
        for r in spark.read.parquet(ep).collect()
    }
    # users, repos, and the full module closure (incl. unresolvable left-pad)
    assert ("alice", "GitUser") in v and ("alice/app", "GitRepo") in v
    assert ("lodash", "NodeModule") in v and ("ansi", "NodeModule") in v
    assert ("left-pad", "NodeModule") in v
    assert ("alice", "alice/app", "OWNS") in e
    assert ("alice/app", "lodash", "DEPENDS_ON") in e
    assert ("alice/app", "jest", "DEV_DEPENDS_ON") in e
    assert ("lodash", "chalk", "DEPENDS_ON") in e
    assert ("chalk", "ansi", "DEPENDS_ON") in e
    assert ("ansi", "chalk", "DEPENDS_ON") in e  # cycle closed, loop terminated
    assert ("jest", "left-pad", "DEPENDS_ON") in e
    # repo-seeded module (chalk): devDeps expand one level (R2)...
    assert ("chalk", "jest", "DEV_DEPENDS_ON") in e
    # ...but deeper modules (ansi) expand MAIN deps only
    assert ("ansi", "deep-dev", "DEV_DEPENDS_ON") not in e
    assert ("deep-dev", "NodeModule") not in v

    second = run_insert_job(spark, lake, npm, vp, ep)
    assert second == first  # replay is a no-op (MERGE semantics)


def test_unreadable_store_raises_instead_of_being_overwritten(spark, tmp_path):
    """Only a missing store counts as empty: a corrupt part file in the
    edge store must fail the job, not be replaced by the current batch
    alone."""
    lake = _write_lake(tmp_path)
    npm = _npm_table(spark)
    vp, ep = str(tmp_path / "vertices"), str(tmp_path / "edges")
    run_insert_job(spark, lake, npm, vp, ep)

    part = sorted((tmp_path / "edges").glob("part-*.parquet"))[0]
    junk = b"not a parquet file" * 8
    part.write_bytes(junk)
    with pytest.raises(Exception):
        run_insert_job(spark, lake, npm, vp, ep)
    assert part.read_bytes() == junk


def test_closure_raises_instead_of_truncating(spark):
    """chalk -> ansi needs a second level: one level must raise, since
    a replay could never add the modules a truncated closure missed."""
    seed = spark.createDataFrame([("lodash",), ("jest",), ("chalk",)], "name string")
    npm = _npm_table(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        expand_module_closure(seed, npm, max_iter=1)
    resolved, _ = expand_module_closure(seed, npm, max_iter=2)
    assert {r["name"] for r in resolved.collect()} == {
        "lodash", "jest", "chalk", "ansi", "left-pad"
    }


def _part_files(store):
    return {p.name: p.read_bytes() for p in store.glob("part-*")}


def test_second_batch_appends_instead_of_rewriting(spark, tmp_path):
    """A second, different batch is appended: every part file the first
    batch wrote stays, byte for byte. Replaying it changes no count."""
    npm = _npm_table(spark)
    vp, ep = tmp_path / "vertices", tmp_path / "edges"
    base = run_insert_job(spark, _write_lake(tmp_path), npm, str(vp), str(ep))
    before = {vp: _part_files(vp), ep: _part_files(ep)}

    delta_lake = _write_lake(tmp_path, DELTA_REPOS, "delta")
    delta = run_insert_job(spark, delta_lake, npm, str(vp), str(ep))
    # carol, carol/web, react, deep-dev; OWNS, web->react, web->ansi, ansi->deep-dev
    assert delta == {"vertices": base["vertices"] + 4, "edges": base["edges"] + 4}
    for store, files in before.items():
        after = _part_files(store)
        assert all(after.get(name) == body for name, body in files.items())
    e = {(r["src"], r["dst"], r["rel_type"]) for r in spark.read.parquet(str(ep)).collect()}
    assert ("ansi", "deep-dev", "DEV_DEPENDS_ON") in e

    assert run_insert_job(spark, delta_lake, npm, str(vp), str(ep)) == delta


def test_delta_batch_job_budget(spark, tmp_path):
    """A batch merged into an existing store runs one materialization
    per closure level plus one write per table; the job count pins
    that (22 jobs here, and once 23 in a full-suite run: AQE submits
    query stages as their inputs finish; the overwrite-merge it
    replaced ran 52, and the vertex anti-join on the (id, label) pair,
    with its three broadcasts, 24)."""
    npm = _npm_table(spark)
    vp, ep = str(tmp_path / "vertices"), str(tmp_path / "edges")
    run_insert_job(spark, _write_lake(tmp_path), npm, vp, ep)
    delta_lake = _write_lake(tmp_path, DELTA_REPOS, "delta")
    sc = spark.sparkContext
    group = f"insert-job-budget-{tmp_path.name}"
    sc.setJobGroup(group, "insert job budget")
    try:
        run_insert_job(spark, delta_lake, npm, vp, ep)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 23


def test_vertex_merge_builds_one_broadcast(spark, tmp_path, monkeypatch):
    """The vertex anti-join probes ONE broadcast of the existing vertex
    table from all three union branches (users, repos, modules): the
    AQE final plan of the vertex write builds it once and reuses it."""
    import re

    from github_miner_spark.etl import insert

    npm = _npm_table(spark)
    vp, ep = str(tmp_path / "vertices"), str(tmp_path / "edges")
    run_insert_job(spark, _write_lake(tmp_path), npm, vp, ep)
    real, merged = insert.novel_rows, []

    def spy(*args):
        merged.append(real(*args))
        return merged[-1]

    monkeypatch.setattr(insert, "novel_rows", spy)
    run_insert_job(spark, _write_lake(tmp_path, DELTA_REPOS, "delta"), npm, vp, ep)
    vertex_merge = merged[0]
    vertex_merge.collect()
    final = vertex_merge._jdf.queryExecution().executedPlan().toString()
    final = final.split("Initial Plan")[0]
    assert len(re.findall(r"[-:] BroadcastExchange", final)) == 1, final
    assert len(re.findall(r"ReusedExchange", final)) >= 2, final


def test_user_and_module_sharing_a_name_both_survive(spark, tmp_path):
    """User chalk owns chalk/app, which depends on module chalk: the
    GitUser and the NodeModule share an id, and both vertices survive
    the base batch, a delta and a replay of the base."""
    from tests.insert_reference import reference_batch

    registry = [
        {"name": "chalk", "dependencies": {"ansi": "1.0.0"},
         "devDependencies": None, "peerDependencies": None},
        {"name": "ansi", "dependencies": None,
         "devDependencies": None, "peerDependencies": None},
    ]
    npm = spark.createDataFrame(
        [tuple(r.values()) for r in registry],
        "name string, dependencies map<string,string>, "
        "devDependencies map<string,string>, peerDependencies map<string,string>",
    )
    base = [("chalk", "app", {"name": "app", "dependencies": {"chalk": "~5.0.0"}})]
    lakes = {"base": (base, _write_lake(tmp_path, base, "base")),
             "delta": (DELTA_REPOS, _write_lake(tmp_path, DELTA_REPOS, "delta"))}
    vp, ep = str(tmp_path / "vertices"), str(tmp_path / "edges")
    want_v, want_e = set(), set()
    for name in ("base", "delta", "base"):
        repos, lake = lakes[name]
        v, e = reference_batch(registry, repos)
        want_v |= v
        want_e |= e
        got = run_insert_job(spark, lake, npm, vp, ep)
        stored = {tuple(r) for r in spark.read.parquet(vp).select("id", "label", "name").collect()}
        assert {("chalk", "GitUser", "chalk"), ("chalk", "NodeModule", "chalk")} <= stored
        assert stored == want_v
        assert got == {"vertices": len(want_v), "edges": len(want_e)}
