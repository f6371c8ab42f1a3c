"""Scale machinery: salting (skew-spread aggregation) and bucketed
co-located joins. Correctness = exact equality with the direct form;
the bucketing test also asserts the plan is shuffle-free."""

from __future__ import annotations

import pytest

from dnstap2clickhouse_spark.operators.skew import salted_agg
from dnstap2clickhouse_spark.plans.bucketed import (
    bucketed_order_revenue,
    write_bucketed,
)
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

def _rows(df):
    return sorted(tuple(r) for r in df.collect())

def test_salted_agg_equals_direct(spark):
    # integer aggregates: exactly order-free, so equality is exact
    # (float sums differ in the last ulp across aggregation orders)
    ev = load_table(spark, SF, "events").selectExpr(
        "event_type", "event_id", "user_id"
    )
    direct = ev.groupBy("event_type").agg({"event_id": "sum", "user_id": "max"})
    direct = direct.withColumnRenamed("sum(event_id)", "event_id").withColumnRenamed(
        "max(user_id)", "user_id"
    )
    salted = salted_agg(ev, ["event_type"], {"event_id": "sum", "user_id": "max"})
    cols = ["event_type", "event_id", "user_id"]
    assert _rows(salted.select(cols)) == _rows(direct.select(cols))

def test_salted_agg_skewed_key(spark):
    """All rows on ONE key — the worst case salting exists for."""
    df = spark.range(10000).selectExpr("'hot' AS k", "id AS v")
    got = salted_agg(df, ["k"], {"v": "sum"}, buckets=8).collect()
    assert len(got) == 1 and got[0].v == sum(range(10000))

def test_salted_count_merges_as_sum(spark):
    df = spark.range(1000).selectExpr("CAST(id % 3 AS STRING) AS k", "id AS v")
    got = {r.k: r.v for r in salted_agg(df, ["k"], {"v": "count"}).collect()}
    assert got == {"0": 334, "1": 333, "2": 333}

def test_bucketed_join_is_shuffle_free(spark):
    ot, lt = write_bucketed(spark, SF, buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_order_revenue(spark, ot, lt)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # join itself must not shuffle either fact side; the only allowed
        # Exchange is the final single-partition agg/orderBy
        join_part = plan.split("SortMergeJoin")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in join_part
        # and it still computes the right thing
        o = spark.table(ot)
        l = spark.table(lt)
        direct = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        got = {r.o_orderpriority: r.n_items for r in df.collect()}
        want = {r.o_orderpriority: r["count"] for r in direct.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ot}")
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
