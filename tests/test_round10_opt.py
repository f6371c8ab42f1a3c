"""Round-10 optimization regression guards.

Pins the three r10 optimization-round changes:

1. The banded LSH self-joins (MinHash, SimHash, aHash, band sweep) are
   SHUFFLE_HASH joins — never a broadcast of the corpus-derived band
   relation — and at runtime AQE computes the (identical) two exchange
   subtrees ONCE (ReusedExchange), so the signature map stage is no
   longer executed once per join side.
2. ``load_table``'s NTZ->UTC timestamp normalization is the zero-cost
   cast when the session zone is UTC (the engine/driver norm), and the
   zone-independent field rebuild otherwise — both exact (the DST-gap
   test in test_vanilla_session.py pins exactness; this pins the shape).
3. The output of the optimized LSH pair query is byte-identical to the
   pre-optimization semantics (order, schema, values) — checked against
   a literal reimplementation of the old plain-join form.
"""

from __future__ import annotations


import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _initial_plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_self_join_is_shuffle_hash_not_broadcast(spark):
    plan = _initial_plan(spark, "dedup_minhash_lsh")
    assert "ShuffledHashJoin" in plan
    # no corpus-derived broadcast: the only allowed BroadcastExchange
    # would come from a reducer-bounded subtree, and this plan has none
    assert "BroadcastHashJoin" not in plan


def test_lsh_signature_stage_reused_at_runtime(spark):
    """AQE must compute the two identical band-relation exchanges once."""
    from dnstap2clickhouse_spark.functions import dedup as fd

    fd._register(spark, SF)
    df = spark.sql(fd._lsh_pairs_sql("spark"))
    plan = _final_plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_simhash_and_ahash_band_joins_are_shuffle_hash(spark):
    for name in ("dedup_simhash_pairs", "mm_image_ahash"):
        plan = _initial_plan(spark, name)
        assert "ShuffledHashJoin" in plan, name


def test_lsh_pairs_output_equals_plain_join_form(spark):
    """The hint is strategy-only: output must equal the unhinted plain
    self-join (the pre-r10 form), including ordering."""
    from dnstap2clickhouse_spark.functions import dedup as fd

    fd._register(spark, SF)
    hinted = spark.sql(fd._lsh_pairs_sql("spark") + " ORDER BY doc_a, doc_b")
    plain_sql = fd._lsh_pairs_sql("spark").replace("/*+ SHUFFLE_HASH(a, b) */ ", "")
    assert "SHUFFLE_HASH" not in plain_sql
    plain = spark.sql(plain_sql + " ORDER BY doc_a, doc_b")
    assert hinted.collect() == plain.collect()


def test_ntz_normalization_is_cast_under_utc_session(spark):
    """Under the UTC session pin the events.ts normalization must be a
    plain cast (no per-row field rebuild at the scan)."""
    from dnstap2clickhouse_spark.sources.tables import load_table

    df = load_table(spark, SF, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "make_timestamp" not in plan


def test_ntz_normalization_field_rebuild_when_zone_not_utc(spark, tmp_path):
    """A locked-down session whose zone pin failed must still get the
    zone-independent field rebuild (exactness over speed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dnstap2clickhouse_spark.sources import tables as t

    table = pa.table(
        {
            "event_id": pa.array([0], pa.int64()),
            "ts": pa.array([1751371200000000], pa.timestamp("us")),  # NTZ
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    tz = spark.conf.get("spark.sql.session.timeZone")
    orig = t._ensure_session_confs
    try:
        # simulate the locked-down session: the UTC pin does not stick
        t._ensure_session_confs = lambda s: None
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = t.load_table(spark, str(tmp_path), "events")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "make_timestamp" in plan
        got = df.selectExpr("unix_micros(ts) AS us").collect()[0].us
        assert got == 1751371200000000
    finally:
        t._ensure_session_confs = orig
        spark.conf.set("spark.sql.session.timeZone", tz)
