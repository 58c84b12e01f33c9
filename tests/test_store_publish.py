"""Failure paths of the shared publish step (io/store_key.py:publish),
Spark-free: the ``write`` callbacks write plain files."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

import pytest

from github_miner_spark.io.store_key import publish

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRIES = ("a.txt", "b.txt")


def _write_entries(stage: str) -> None:
    for name in ENTRIES:
        with open(os.path.join(stage, name), "w") as f:
            f.write(name)


def _assert_complete(target: str) -> None:
    assert sorted(os.listdir(target)) == sorted(ENTRIES)
    for name in ENTRIES:
        with open(os.path.join(target, name)) as f:
            assert f.read() == name


def test_write_that_raises_leaves_no_target_and_no_stage(tmp_path):
    root = str(tmp_path / "root")
    target = os.path.join(root, "key")

    def write(stage: str) -> None:
        with open(os.path.join(stage, "a.txt"), "w") as f:
            f.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        publish(root, target, ENTRIES, write)
    assert os.listdir(root) == []


def test_concurrent_publishers_share_one_complete_target(tmp_path):
    root = str(tmp_path / "root")
    target = os.path.join(root, "key")
    n = 2 * (os.cpu_count() or 1) + 1
    barrier = threading.Barrier(n)
    results: list[str | None] = [None] * n
    errors: list[BaseException] = []

    def write(stage: str) -> None:
        _write_entries(stage)
        time.sleep(0.01)  # widen the window in which builders overlap

    def run(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            results[i] = publish(root, target, ENTRIES, write)
        except BaseException as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results == [target] * n
    assert os.listdir(root) == ["key"]
    _assert_complete(target)


def test_lost_race_returns_the_winners_copy(tmp_path):
    """A complete target that lands while this build runs wins: its
    copy is served as is and this build's stage is dropped."""
    root = str(tmp_path / "root")
    target = os.path.join(root, "key")

    def write(stage: str) -> None:
        for d, text in ((stage, "mine"), (target, "theirs")):
            os.makedirs(d, exist_ok=True)
            for name in ENTRIES:
                with open(os.path.join(d, name), "w") as f:
                    f.write(text)

    assert publish(root, target, ENTRIES, write) == target
    for name in ENTRIES:
        with open(os.path.join(target, name)) as f:
            assert f.read() == "theirs"
    assert os.listdir(root) == ["key"]


_KILLED_BUILDER = """
import os, sys, time
from github_miner_spark.io.store_key import publish

root, target, ready = sys.argv[1:4]

def write(stage):
    with open(os.path.join(stage, "a.txt"), "w") as f:
        f.write("a.txt")
    open(ready, "w").close()
    time.sleep(600)

publish(root, target, ("a.txt", "b.txt"), write)
"""


def test_killed_builder_leaves_only_an_invisible_orphan(tmp_path):
    root = str(tmp_path / "root")
    target = os.path.join(root, "key")
    ready = str(tmp_path / "ready")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.Popen(
        [sys.executable, "-c", _KILLED_BUILDER, root, target, ready], env=env
    )
    try:
        deadline = time.monotonic() + 60
        while not os.path.exists(ready):
            assert proc.poll() is None, "builder exited before writing"
            assert time.monotonic() < deadline, "builder never started writing"
            time.sleep(0.05)
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)

    (orphan,) = os.listdir(root)
    assert orphan.startswith("building-")
    assert not os.path.exists(target)

    builds = []

    def write(stage: str) -> None:
        builds.append(stage)
        _write_entries(stage)

    assert publish(root, target, ENTRIES, write) == target
    assert len(builds) == 1
    _assert_complete(target)
    assert sorted(os.listdir(root)) == sorted(["key", orphan])


def test_incomplete_target_is_moved_aside_and_rebuilt(tmp_path):
    root = str(tmp_path / "root")
    target = os.path.join(root, "key")
    os.makedirs(target)
    with open(os.path.join(target, "a.txt"), "w") as f:
        f.write("stale")

    assert publish(root, target, ENTRIES, _write_entries) == target
    _assert_complete(target)
    assert os.listdir(root) == ["key"]


def test_complete_target_is_returned_without_building(tmp_path):
    root = str(tmp_path / "root")
    target = os.path.join(root, "key")
    publish(root, target, ENTRIES, _write_entries)

    def write(stage: str) -> None:
        raise AssertionError("a complete target must not be rebuilt")

    assert publish(root, target, ENTRIES, write) == target
