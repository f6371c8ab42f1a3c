"""Drive every queries() entry against its oracle_sql() — the same
comparison the driver's correctness gate performs, run at sf0.001 for
speed (set SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.01 for the full gate).
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import assert_match, run_oracle

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()

@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, name):
    if name not in _ORACLES:
        df = _QUERIES[name](spark, SF)
        assert df.count() >= 0  # rows-only check, mirroring the driver
        return
    df = _QUERIES[name](spark, SF)
    want = run_oracle(_ORACLES[name], SF)
    assert_match(df, want, name)

def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["queryAddress", "values"]
