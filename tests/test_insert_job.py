"""E2 insert-stage end-to-end: manifest lake -> property graph with
recursive npm closure, cycle-safe and idempotent."""

from __future__ import annotations

import json

import pytest

from github_miner_spark.etl.insert import run_insert_job


def _write_lake(tmp_path):
    lake = tmp_path / "lake"
    for owner, repo, manifest in [
        ("alice", "app", {"name": "app", "dependencies": {"lodash": "^4.0.0"},
                          "devDependencies": {"jest": "^29.0.0"}}),
        ("bob", "tool", {"name": "tool", "dependencies": {"chalk": "~5.0.0"}}),
    ]:
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
