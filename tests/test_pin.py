"""pin() mechanism contract (VERDICT r12 item 4): the local default
cuts lineage via localCheckpoint; SPARK_GRAFT_RELIABLE_PIN=1 routes
the same frame through a reliable checkpoint against the session
checkpoint dir. Both must return identical rows and a lineage-cut
plan (scan of an RDD / checkpoint, no upstream parquet scan)."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from github_miner_spark.functions import pin as pin_mod


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
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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
    assert counted_jobs <= two_step_jobs - 1
