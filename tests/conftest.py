from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from geospatial_analysis_integrity_tool_spark.session import get_spark

    s = get_spark("gait-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_SMALL = "/root/testdata/sf0.001"
#: the correctness-gate scale, beside SF_SMALL
SF_GATE = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
