"""Shared Spark session for the test suite (one JVM for all tests)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Few shuffle partitions: tests move KBs, not GBs.
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
    from lms_etl_pipeline_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
