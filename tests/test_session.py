"""Session defaults that change how PySpark behaves on the driver."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from github_miner_spark.session import get_spark


def test_call_site_capture_is_off(spark):
    assert get_spark().conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_unresolved_column_still_raises(spark):
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column")
