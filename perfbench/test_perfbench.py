"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os

import checks
import datagen
import eventlog


def test_digest_ignores_row_and_column_order():
    a = checks.digest(["b", "a"], [(1, "x"), (2, "y")])
    b = checks.digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b


def test_digest_float_relative_tolerance_and_numeric_types():
    base = checks.digest(["v"], [(1234.5678,), (0.1 + 0.2,)])
    assert checks.digest(["v"], [(1234.5678000001,), (0.3,)]) == base
    assert checks.digest(["v"], [(1234.58,), (0.3,)]) != base
    assert checks.digest(["n"], [(3,)]) == checks.digest(["n"], [(3.0,)])
    assert checks.digest(["n"], [(decimal.Decimal("2.50"),)]) == checks.digest(["n"], [(2.5,)])
    assert checks.normalize(-0.0) == 0.0 and checks.normalize(float("nan")) == "NaN"


def test_digest_other_types():
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert checks.normalize(ts) == "2024-01-02T03:04:05.123456"
    assert checks.normalize([1, [2.0, None]]) == (1.0, (2.0, None))
    assert checks.normalize({"b": 1, "a": "x"}) == (("a", "x"), ("b", 1.0))
    assert checks.normalize(True) is True
    assert checks.digest(["c"], [(None,)]) != checks.digest(["c"], [("None",)])
    assert checks.digest(["a"], []) != checks.digest(["b"], [])


def test_tail_percentile_needs_ten_samples_beyond():
    assert checks.tail_percentile(19) is None
    assert checks.tail_percentile(20) == 50.0
    assert checks.tail_percentile(39) == 50.0
    assert checks.tail_percentile(40) == 75.0
    assert checks.tail_percentile(99) == 75.0
    assert checks.tail_percentile(100) == 90.0
    assert checks.tail_percentile(999) == 90.0
    assert checks.tail_percentile(1000) == 99.0


def test_percentile_interpolates():
    assert checks.percentile([3.0], 90) == 3.0
    assert checks.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert checks.percentile([0.0, 10.0], 90) == 9.0


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_lake_is_byte_identical_per_seed(tmp_path):
    datagen.write_lake(str(tmp_path / "a"), 7)
    datagen.write_lake(str(tmp_path / "b"), 7)
    datagen.write_lake(str(tmp_path / "c"), 8)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_tables_are_byte_identical(tmp_path):
    datagen.write_tables(str(tmp_path / "a"))
    datagen.write_tables(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_lake_closure_levels_do_not_depend_on_seed():
    for seed in range(5):
        registry, batches = datagen.make_lake(seed)
        assert [datagen.reference_batch(registry, b)[2] for b in batches] == [2] * len(batches)


def test_reference_closure_semantics():
    """The cases tests/test_insert_job.py checks against Spark: dev and
    peer deps expand one level, main deps recurse, cycles terminate and
    unresolvable names stay as vertices."""
    registry = [
        {"name": "lodash", "dependencies": {"chalk": "^5.0.0"}},
        {"name": "chalk", "dependencies": {"ansi": "1.0.0"}, "devDependencies": {"jest": "^29.0.0"}},
        {"name": "ansi", "dependencies": {"chalk": "^5.0.0"}, "devDependencies": {"deep-dev": "1.0.0"}},
        {"name": "jest", "dependencies": {"left-pad": "1.0.0"}},
    ]
    batch = [
        ("alice", "app", {"dependencies": {"lodash": "^4.0.0"}, "devDependencies": {"jest": "^29.0.0"}}),
        ("bob", "tool", {"dependencies": {"chalk": "~5.0.0"}}),
    ]
    v, e, levels = datagen.reference_batch(registry, batch)
    keys = {(s, d, r) for s, d, r, *_ in e}
    ids = {i for i, _, _ in v}
    assert {"alice", "alice/app", "lodash", "ansi", "left-pad"} <= ids
    assert {("alice", "alice/app", "OWNS"), ("alice/app", "lodash", "DEPENDS_ON"),
            ("alice/app", "jest", "DEV_DEPENDS_ON"), ("lodash", "chalk", "DEPENDS_ON"),
            ("chalk", "ansi", "DEPENDS_ON"), ("ansi", "chalk", "DEPENDS_ON"),
            ("jest", "left-pad", "DEPENDS_ON"), ("chalk", "jest", "DEV_DEPENDS_ON")} <= keys
    assert ("ansi", "deep-dev", "DEV_DEPENDS_ON") not in keys
    assert "deep-dev" not in ids
    assert levels == 2
    # replaying the batch adds nothing
    v2, e2 = datagen.reference_graph(registry, [batch, batch])
    assert (v2, e2) == (v, e)


def test_eventlog_groups_jobs_and_flags_incomplete_tasks(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskStart", "Stage ID": 0},
        {"Event": "SparkListenerTaskStart", "Stage ID": 1},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
            "Memory Bytes Spilled": 1_000_000, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 3_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4_000_000}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = eventlog.parse(str(tmp_path))
    assert set(g) == {"op0"}
    op = g["op0"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 1, 1)
    assert op["task_cpu_s"] == 2.0 and op["gc_s"] == 0.5
    assert (op["shuffle_read_mb"], op["shuffle_write_mb"], op["spill_mb"]) == (3.0, 4.0, 1.0)
    assert op["complete"] is False  # one task started on stage 1 never ended
