"""Round-6 continuation: dropped-hint detection + the two census
restructures it motivated.

Spark DROPS a join-strategy hint whose relation name doesn't resolve,
logging only a HintErrorLogger WARN — two contract hints named the CTE
instead of its join alias (`BROADCAST(occ)` for alias `o` in the Bloom
pre-screen, `BROADCAST(qv)` for alias `q` in hybrid RRF) and silently
sort-merged their provably-bounded sides. These tests pin (a) the
generic detector `tools.audit_plans.audit_hints`, (b) the two fixed
sites forcing their broadcasts under the no-auto-broadcast (100 TB)
regime, and (c) the census restructures of the two remaining
multi-execution plans: `sim_mmr_rerank` (pool materialized once — was
20 embedding-payload scans, ~7 full corpus scoring passes) and
`events_ttl_rollup` (literal unix-micros tier bounds — was 21 events
scans with a pushdown-blocking scalar subquery).
"""

from __future__ import annotations

import pytest

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import similarity as sim
from dnstap2clickhouse_spark.plans import events_analytics as ev
from tools.audit_plans import audit_hints, scan_census_df

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_auto_broadcast(spark):
    """Model the 100 TB regime: only code-forced broadcasts exist."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# ------------------------------------------------- dropped-hint detector


def test_audit_hints_counts_dropped_hint(spark):
    spark.range(100).createOrReplaceTempView("__h_big")
    spark.range(5).createOrReplaceTempView("__h_small")
    bad = spark.sql(
        "SELECT /*+ BROADCAST(nosuch) */ b.id FROM __h_big b JOIN __h_small s ON b.id = s.id"
    )
    assert audit_hints(bad) == 1
    good = spark.sql(
        "SELECT /*+ BROADCAST(s) */ b.id FROM __h_big b JOIN __h_small s ON b.id = s.id"
    )
    assert audit_hints(good) == 0


def test_bloom_hint_broadcasts_bounded_side(no_auto_broadcast):
    """The <= BLOOM_M-row occupied-bit side must broadcast by HINT alone
    (size-triggered broadcasts are off): the pre-fix `BROADCAST(occ)`
    silently no-opped because the join binds the CTE under alias `o`."""
    spark = no_auto_broadcast
    fdedup._register(spark, SF)
    df = spark.sql(fdedup.bloom_prescreen_sql("spark"))
    assert audit_hints(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hybrid_rrf_hint_resolves(no_auto_broadcast):
    spark = no_auto_broadcast
    df = sim.hybrid_rrf(spark, SF)
    assert audit_hints(df) == 0


def test_no_contract_spark_sql_hints_a_nonalias_cte():
    """Static guard for the whole class: every BROADCAST(x) token in a
    Spark-dialect SQL string must name a relation that also appears as
    a bound alias (`FROM/JOIN <something> x` or a bare `FROM/JOIN x`) —
    naming only the CTE header `x AS (` is exactly the silent-drop bug."""
    import re

    sqls = [
        fdedup.bloom_prescreen_sql("spark"),
        sim.hybrid_rrf_sql("spark"),
        sim.mmr_rerank_sql("spark"),
    ]
    for s in sqls:
        for name in re.findall(r"/\*\+\s*BROADCAST\((\w+)\)\s*\*/", s):
            bound = re.findall(rf"(?:FROM|JOIN)\s+(?:\w+\s+)?{name}\b", s) or re.findall(
                rf"\)\s+{name}\b", s
            )
            assert bound, f"hint BROADCAST({name}) has no bound alias in scope"


# ------------------------------------------------- MMR single corpus pass


def test_mmr_anchor_present_exactly_once():
    assert sim.mmr_rerank_sql("spark").count(sim._MMR_STEP_ANCHOR) == 1
    assert sim.mmr_rerank_sql("duckdb").count(sim._MMR_STEP_ANCHOR) == 1


def test_mmr_spliced_equals_pure_sql(spark):
    got = sorted(map(tuple, sim.mmr_rerank(spark, SF).collect()))
    sim._register(spark, SF)
    pure = sorted(map(tuple, spark.sql(sim.mmr_rerank_sql("spark")).collect()))
    assert got == pure and len(got) > 0


def test_mmr_returned_plan_reads_no_corpus(no_auto_broadcast):
    """The returned plan reads only the materialized <=80-row pool: the
    corpus pass ran exactly once at call time (inside materialize_scan),
    so the greedy-step re-expansion multiplies a tiny scan, not the
    full-corpus scoring chain (pre-fix leaf census: embeddings x20)."""
    spark = no_auto_broadcast
    spark.catalog.clearCache()
    df = sim.mmr_rerank(spark, SF)
    census = scan_census_df(df)
    assert census.get("embeddings", (0, 0)) == (0, 0)


# ------------------------------------------------- TTL pushed tier bounds


def test_ttl_pushed_equals_reference_sql(spark):
    got = sorted(map(tuple, ev.ttl_rollup(spark, SF).collect()))
    ref = sorted(map(tuple, spark.sql(ev.ttl_rollup_sql("spark")).collect()))
    assert got == ref and len(got) > 0


def test_ttl_plan_is_three_filtered_scans(no_auto_broadcast):
    spark = no_auto_broadcast
    spark.catalog.clearCache()
    df = ev.ttl_rollup(spark, SF)
    census = scan_census_df(df)
    assert census.get("events", (0, 0))[0] == 3  # one per tier, was 21
    # the tier bounds are LITERALS in the plan, not scalar subqueries
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in plan


def test_ttl_empty_corpus_falls_back_to_reference(spark):
    spark.createDataFrame(
        [], "ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE"
    ).createOrReplaceTempView("events")
    import unittest.mock as mock

    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table("events")):
        assert ev.ttl_rollup(spark, SF).collect() == []
