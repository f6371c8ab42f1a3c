"""Regression pins for the round-4 ADVICE fixes — each test constructs
the input regime the original defect needed (which the fixed corpus
never reaches) and asserts the fixed semantics.

- chi-square DECIMAL(38,0): user domains past ~50k used to wrap BIGINT
  silently in Spark's non-ANSI mode (DuckDB raises — a cross-engine
  divergence visible only as an oracle mismatch at scale). A 120k-user
  synthetic experiment now runs both engines and matches an exact
  big-int Python computation.
- temporal embargo coalesce: an EMPTY train split used to null the
  scalar subqueries and silently erase the gap certificate; it must
  read FALSE.
"""

from __future__ import annotations

import duckdb

from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.functions import splits as fsplit


def _synth_ab_events(spark, n_users: int):
    """One signup per user at t0 and one purchase 1h later for ~51% of
    users in a variant-skewed pattern — big enough that the chi-square
    cross-products exceed int64."""
    df = spark.range(n_users).selectExpr(
        "id AS user_id",
        # expose every user at a fixed time
        "timestamp('2025-01-01 00:00:00') AS ts",
        f"'{evan.AB_EXPOSE}' AS event_type",
        "id AS event_id",
        "0.0 AS value",
    )
    conv = spark.range(n_users).selectExpr(
        "id AS user_id",
        "timestamp('2025-01-01 01:00:00') AS ts",
        f"'{evan.AB_CONVERT}' AS event_type",
        f"id + {n_users} AS event_id",
        "0.0 AS value",
    # conversion pattern correlated with the variant hash so the two
    # arms genuinely differ: variant-0 users convert at ~55%, variant-1
    # at ~50% — at 120k users this IS significant
    ).where(
        f"CASE WHEN {fsplit._bucket2_sql('user_id', 2)} = 0 "
        "THEN user_id % 100 < 55 ELSE user_id % 100 < 50 END"
    )
    return df.unionByName(conv)


def _exact_verdict(rows):
    """Exact unbounded-int chi-square compare (the SQL's semantics)."""
    by = {r["variant"]: r for r in rows}
    n1, c1 = by[0]["n_users"], by[0]["n_conv"]
    n2, c2 = by[1]["n_users"], by[1]["n_conv"]
    nt, ct = n1 + n2, c1 + c2
    lhs = evan.AB_CHI2_DEN * nt * (c1 * n2 - c2 * n1) ** 2
    rhs = evan.AB_CHI2_NUM * n1 * n2 * ct * (nt - ct)
    return lhs > rhs


def test_chi_square_exact_past_bigint_range(spark):
    n_users = 120_000
    ev = _synth_ab_events(spark, n_users)
    ev.createOrReplaceTempView("events")
    got = [r.asDict() for r in spark.sql(evan.ab_test_sql("spark")).collect()]
    assert len(got) == 2 and {r["variant"] for r in got} == {0, 1}

    # the cross-products genuinely exceed int64 here — the regime the
    # BIGINT form wrapped in
    by = {r["variant"]: r for r in got}
    n1, c1 = by[0]["n_users"], by[0]["n_conv"]
    n2, c2 = by[1]["n_users"], by[1]["n_conv"]
    nt = n1 + n2
    assert evan.AB_CHI2_DEN * nt * (c1 * n2 - c2 * n1) ** 2 > 2**63

    want = _exact_verdict(got)
    assert all(r["significant"] == want for r in got)
    assert want is True  # the engineered 5-point arm gap is significant

    # both engines, same DECIMAL semantics: run the DuckDB oracle SQL on
    # the same synthetic events and compare verdicts
    pdf = ev.toPandas()
    con = duckdb.connect()
    con.register("events", pdf)
    oracle = con.execute(evan.ab_test_sql("duckdb")).fetchall()
    assert sorted((r[0], bool(r[4])) for r in oracle) == sorted(
        (r["variant"], r["significant"]) for r in got
    )


def test_temporal_embargo_empty_train_reads_false(spark):
    """All events inside the final test week ⇒ train is EMPTY ⇒ the gap
    certificate must be FALSE (the pre-fix behavior was NULL)."""
    spark.range(100).selectExpr(
        "id AS user_id",
        # every row within EMB_TEST_DAYS of the max ⇒ no train rows
        "timestamp('2025-06-30 12:00:00') + make_interval(0,0,0,0,0,0,id*60) AS ts",
        "'click' AS event_type",
        "id AS event_id",
        "0.0 AS value",
    ).createOrReplaceTempView("events")
    rows = spark.sql(fsplit.temporal_embargo_sql("spark")).collect()
    assert len(rows) > 0
    splits = {r.split for r in rows}
    assert "train" not in splits  # the regime under test
    assert all(r.gap_ok is False for r in rows)  # FALSE, never NULL
