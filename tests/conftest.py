from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# The suite's session JVM and the ones tests start in subprocesses: at the
# library's 16g default a JVM grew to 12.4 GB RSS on a 15 GB host and drew
# the kernel's OOM killer; the whole suite passes at 4g.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from dnstap2clickhouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()
