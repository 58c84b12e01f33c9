"""Session defaults that change how PySpark behaves on the driver."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from github_miner_spark import registry
from github_miner_spark.session import compile_count, get_spark

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_call_site_capture_is_off(spark):
    assert get_spark().conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_unresolved_column_still_raises(spark):
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column")


def test_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_reliable_checkpoints_are_cleaned_with_their_rdd(spark):
    assert spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_warm_rerun_compiles_nothing(spark, sf_dir, monkeypatch):
    """A second run of the benchmark's ``query_mix`` ops takes every
    generated class from the codegen cache. They need about 110 classes
    here, so at Spark's default of 100 entries the first run's classes
    are evicted before the rerun asks for them (60-100 recompile).
    ``minhash_lsh_dups`` is left out: its generated code is not always
    the same from run to run."""
    monkeypatch.syspath_prepend(PERFBENCH)
    from workloads import GRAPH_OPS, SCAN_OPS

    specs = registry.all_specs()
    names = [n for n in GRAPH_OPS + SCAN_OPS if n != "minhash_lsh_dups"]

    def run():
        for name in names:
            specs[name].spark(spark, sf_dir).collect()

    run()
    before = compile_count(spark)
    run()
    assert compile_count(spark) - before == 0
