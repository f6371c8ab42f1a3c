"""Round-6 continuation: findings from the first FULL 259-entry sweep
at the 10x replica (~sf1).

`events_value_quantiles` hash-mismatched there: Spark `percentile` and
DuckDB `quantile_cont` interpolate with algebraically-equal but
floating-point-DIFFERENT evaluation orders (p99 230.53 vs
230.53000000000003) — every gate-scale corpus agreed by luck. The
entry now spells the interpolation out once as ONE shared SQL text
(`v_lo + (v_hi - v_lo) * frac`, nearest-rank lo/hi), so both engines
evaluate the identical double expression.
"""

from __future__ import annotations

import duckdb

from dnstap2clickhouse_spark.plans import events_analytics as ev

SF = "/root/testdata/sf0.001"


def test_value_quantiles_one_shared_text():
    """The fix IS the shared text: any dialect split here reopens the
    door to engine-specific interpolation orders."""
    assert ev.value_quantiles_sql("spark") == ev.value_quantiles_sql("duckdb")


def test_value_quantiles_bit_equal_cross_engine(spark):
    got = ev.value_quantiles(spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    oracle = con.execute(ev.value_quantiles_sql()).df()
    assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_value_quantiles_matches_builtin_semantics(spark):
    """The explicit interpolation must still BE linear interpolation:
    agree with Spark's builtin `percentile` to float tolerance."""
    import numpy as np

    got = ev.value_quantiles(spark, SF).toPandas()
    ev.load_table(spark, SF, "events").createOrReplaceTempView("events")
    ref = spark.sql(
        "SELECT event_type, percentile(value, 0.5) AS p50,"
        " percentile(value, 0.95) AS p95, percentile(value, 0.99) AS p99"
        " FROM events GROUP BY event_type ORDER BY event_type"
    ).toPandas()
    for c in ("p50", "p95", "p99"):
        assert np.allclose(got[c], ref[c], rtol=1e-12)


def _register_events_both(spark, rows):
    spark.createDataFrame(
        rows, "event_id BIGINT, event_type STRING, value DOUBLE, user_id BIGINT"
    ).createOrReplaceTempView("events")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, event_type VARCHAR,"
        " value DOUBLE, user_id BIGINT)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", rows)
    return con


def test_value_quantiles_null_values_match_builtin_and_cross_engine(spark):
    """Review finding: the first shared text counted NULL values in n
    and inherited each engine's different default NULL placement, so a
    single NULL value broke bit-equality. Non-null-first ranking +
    count(value) must reproduce the builtins' ignore-NULL semantics —
    including the all-NULL type keeping its row of NULLs."""
    import math
    import unittest.mock as mock

    rows = [
        (1, "a", 1.0, 1), (2, "a", 2.0, 1), (3, "a", 3.0, 1), (4, "a", None, 1),
        (5, "z", None, 1), (6, "z", None, 2),
    ]
    con = _register_events_both(spark, rows)
    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table("events")):
        got = ev.value_quantiles(spark, SF).toPandas()
    oracle = con.execute(ev.value_quantiles_sql()).df()
    assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
    # builtin semantics: percentile ignores NULLs; all-NULL type -> NULLs
    ref = spark.sql(
        "SELECT event_type, percentile(value, 0.5) AS p50 FROM events"
        " GROUP BY event_type ORDER BY event_type"
    ).collect()
    by_type = {r["event_type"]: r for _, r in got.iterrows()}
    assert by_type["a"]["p50"] == ref[0]["p50"] == 2.0
    assert math.isnan(by_type["z"]["p50"]) or by_type["z"]["p50"] is None
    assert ref[1]["p50"] is None


def test_value_drift_null_heavy_reference_falls_back(spark):
    """Review finding: a decile rank landing on a NULL-cents row put
    Python None into the VALUES literal ('CAST(None AS BIGINT)') and
    crashed — now it falls back to the reference form."""
    import unittest.mock as mock

    import pyspark.sql.functions as F

    import dnstap2clickhouse_spark.sources.tables as tables_mod

    # first half of the time span NULL-heavy: ts ordering puts the
    # small event_ids in the reference half, so decile ranks land on
    # NULL-cents rows
    rows = [(i, "a", None if i < 80 else float(i), 1) for i in range(100)]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, event_type STRING, value DOUBLE, user_id BIGINT"
    ).withColumn("ts", F.expr("timestamp_micros(event_id * 1000000)"))
    df.createOrReplaceTempView("events")
    # register_views is imported inside value_drift from sources.tables
    with mock.patch.object(tables_mod, "register_views", lambda s, d, t: None):
        rows_out = ev.value_drift(spark, SF).collect()
    assert len(rows_out) >= 1  # degrades to the reference form, no crash


def test_audit_depth_ignores_codegen_marker():
    """Review finding: stripping '*(' as indentation made a codegen
    node read deeper than its non-codegen sibling, so the ancestor walk
    could mistake the OTHER join side's aggregate for an ancestor."""
    from tools.audit_plans import _depth, audit_plan

    assert _depth(":- ObjectHashAggregate(keys=[x])") == _depth("+- *(4) Sort [y]")
    # the reviewer's repro shape: unpartitioned window over a join whose
    # LEFT side is a non-codegen aggregate and whose RIGHT side is a
    # codegen Sort over an unreduced fact scan
    plan = "\n".join([
        "Window [row_number() windowspecdefinition(v#1 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#9], "
        "[v#1 ASC NULLS FIRST]",
        "+- SortMergeJoin [k#2], [k#3], Inner",
        "   :- ObjectHashAggregate(keys=[k#2], functions=[collect_list(x#4)])",
        "   :  +- Exchange hashpartitioning(k#2, 8)",
        "   :     +- Scan parquet [k#2] Location: file:/x/events.parquet",
        "   +- *(4) Sort [k#3 ASC NULLS FIRST]",
        "      +- *(4) ColumnarToRow",
        "         +- FileScan parquet [k#3,v#1] Location: file:/x/events.parquet",
    ])
    assert "global-window" in audit_plan(plan)


def test_zorder_seconds_form_shared_and_fraction_safe(spark):
    """Replica-sweep catch: DuckDB date_diff('second', ...) counts
    second-BOUNDARY crossings while Spark floors the micros diff — off
    by one per row whenever t0 carries a fractional second. Both
    dialects now share the exact floor-of-micros form; pinned on an
    engineered corpus whose t0 sits at x.9 s (every later event inside
    0.1 s of a boundary, maximizing the old divergence)."""
    import unittest.mock as mock

    assert "date_diff('second'" not in ev.zorder_layout_sql("duckdb")
    assert "date_diff('second'" not in ev.zonemap_prune_sql("duckdb")

    # t0 = 0.9s; events at +0.2s steps — boundary counting and floor
    # disagree on most rows under the old form
    rows = [
        (i, "a", float(i), i % 3, 900_000 + i * 200_000) for i in range(50)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT CAST(event_id AS BIGINT) AS event_id,"
        " event_type, value, CAST(user_id AS BIGINT) AS user_id,"
        " make_timestamp(us) AS ts FROM (SELECT * FROM (VALUES "
        + ", ".join(f"({a}, '{b}', {c}, {d}, {e})" for a, b, c, d, e in rows)
        + ") t(event_id, event_type, value, user_id, us))"
    )
    import pyspark.sql.functions as F

    spark.createDataFrame(
        rows, "event_id BIGINT, event_type STRING, value DOUBLE, user_id BIGINT, us BIGINT"
    ).withColumn("ts", F.expr("timestamp_micros(us)")).drop("us").createOrReplaceTempView(
        "events"
    )
    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table("events")):
        got = ev.zorder_layout(spark, SF).toPandas()
    oracle = con.execute(ev.zorder_layout_sql()).df()
    assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))
    assert len(got) > 0


def test_value_quantiles_single_row_group(spark):
    """n=1: idx=0, lo=hi=the value, frac=0 — exact, no NULLs."""
    spark.createDataFrame(
        [(1, "a", 1.5, 10), (2, "b", 2.5, 11), (3, "b", 3.5, 12)],
        "event_id BIGINT, event_type STRING, value DOUBLE, user_id BIGINT",
    ).createOrReplaceTempView("events")
    import unittest.mock as mock

    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table("events")):
        rows = {r.event_type: r for r in ev.value_quantiles(spark, SF).collect()}
    assert rows["a"].p50 == 1.5 and rows["a"].p99 == 1.5
    assert rows["b"].vmin == 2.5 and rows["b"].vmax == 3.5
