"""Regression pins for the round-6 verdict/ADVICE fixes landed in round 7.

- NULL-placement in prefix-sum ranks (r6 ADVICE 4): Spark windows sort
  NULLs first, DuckDB's row_number sorts them last — a nullable rank key
  silently shifted every equidepth bucket boundary / decile edge /
  median between engines. All rank orderings now lead with the portable
  ``(col IS NULL)`` boolean (the ``value_quantiles_sql`` pattern);
  pinned here on engineered NULL-bearing corpora where the OLD forms
  provably diverged.
- ``events_ab_test`` overflow guard (r6 verdict item 6): the
  DECIMAL(38,0) chi-square compare is guarded at ``AB_CHI2_SAFE_NT``
  with an in-schema ``chi2_exact`` flag, so past the proven-exact bound
  BOTH engines emit NULL + false instead of Spark NULLing/raising where
  DuckDB raises.
- ``global_prefix_sum`` driver-small guard (r6 verdict item 7): the
  (group x partition) totals collect is LIMIT-bounded and raises with
  guidance instead of melting the driver.
- ``audit_hints`` multi-name hints (r6 ADVICE 3): dropped-name detection
  counts hinted relation NAMES, not nodes — /*+ BROADCAST(a, zz) */
  with one bad name now reads 1 dropped, not 0.
- materialize_scan retention (r6 ADVICE 2): double-staging entries use
  DISTINCT names per call site, so a held result survives one full
  re-invocation as the keep=2 contract promises.
"""

from __future__ import annotations

import unittest.mock as mock

import duckdb
import pytest

from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as ev

SF = "/root/testdata/sf0.001"


def _records(pdf):
    """NaN/None-normalized sorted tuples for cross-engine comparison."""
    import math

    out = []
    for row in pdf.reindex(sorted(pdf.columns), axis=1).itertuples(index=False):
        out.append(
            tuple(
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (round(v, 9) if isinstance(v, float) else v)
                for v in row
            )
        )
    return sorted(out, key=lambda t: tuple((x is None, x) for x in t))


# -------------------------- NULL placement: equidepth bucket boundaries


def _events_values_both(spark, rows):
    """rows: (event_id, value). Register as Spark view + DuckDB table."""
    spark.createDataFrame(rows, "event_id BIGINT, value DOUBLE").createOrReplaceTempView(
        "events"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    return con


def test_equidepth_null_values_cross_engine(spark):
    # 3 NULLs among 24 values: the OLD Spark rank (nulls FIRST) shifted
    # every bucket id by 3 relative to the DuckDB oracle (nulls LAST)
    rows = [(i, float(i * 10)) for i in range(1, 25)] + [
        (101, None), (102, None), (103, None)
    ]
    con = _events_values_both(spark, rows)
    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table("events")):
        got = ev.equidepth_histogram(spark, SF).toPandas()
    oracle = con.execute(ev.equidepth_histogram_sql()).df()
    assert _records(got) == _records(oracle)
    # nulls-last: the NULL rows land in the HIGHEST bucket in both engines
    last = got.sort_values("bucket").iloc[-1]
    assert last["n_distinct"] == 0 or last["n_rows"] >= 3


def test_equidepth_spark_rank_is_nulls_last(spark):
    # direct pin of the rank key itself: the prefix-sum path must give
    # the 3 NULL values the 3 HIGHEST ranks (DuckDB default), never the
    # lowest (Spark window default)
    rows = [(1, 5.0), (2, None), (3, 1.0), (4, None), (5, 3.0), (6, None)]
    spark.createDataFrame(rows, "event_id BIGINT, value DOUBLE").createOrReplaceTempView(
        "events"
    )
    from dnstap2clickhouse_spark.functions.splits import global_prefix_sum

    ev_df = spark.table("events").selectExpr(
        "value", "event_id", "value IS NULL AS __vnull"
    )
    ranked = global_prefix_sum(
        spark,
        ev_df.selectExpr("*", "1 AS __one"),
        ("__vnull", "value", "event_id"),
        "__one",
        name="t_r7_nulllast",
    )
    got = {
        r["event_id"]: r["__base"] + r["__local_end"] for r in ranked.collect()
    }
    assert got == {3: 1, 5: 2, 1: 3, 2: 4, 4: 5, 6: 6}


# ---------------- NULL placement: the remaining value-derived rank keys


def _events_full_both(spark, rows):
    """rows: (event_id, event_type, value, user_id, ts)."""
    spark.createDataFrame(
        rows,
        "event_id BIGINT, event_type STRING, value DOUBLE,"
        " user_id BIGINT, ts TIMESTAMP",
    ).createOrReplaceTempView("events")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, event_type VARCHAR,"
        " value DOUBLE, user_id BIGINT, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    return con


@pytest.mark.parametrize(
    "fn,sql",
    [
        (ev.exact_percentiles, ev.exact_percentiles_sql),
        (ev.lorenz_gini, ev.lorenz_gini_sql),
        (ev.decile_migration, ev.decile_migration_sql),
        (ev.rfm_segments, ev.rfm_segments_sql),
    ],
)
def test_value_rank_entries_null_values_cross_engine(spark, fn, sql):
    # the same class as equidepth: every shared-text rank/ntile ordered
    # by a value-derived key now pins nulls-last in BOTH engines. Users
    # 91-93 carry ONLY NULL values (their per-user cents sum is NULL);
    # a third of type-b raw values are NULL.
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (i, "a" if i % 2 else "b", float(i) if i % 3 else None, i % 7,
         t0 + dt.timedelta(hours=i))
        for i in range(1, 61)
    ]
    rows += [
        (100 + j, "a", None, 91 + j, t0 + dt.timedelta(days=2, hours=j))
        for j in range(3)
    ]
    con = _events_full_both(spark, rows)
    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table("events")), \
         mock.patch(
             "dnstap2clickhouse_spark.sources.tables.register_views",
             lambda s, d, t: None,
         ):
        got = fn(spark, SF).toPandas()
    oracle = con.execute(sql()).df()
    assert _records(got) == _records(oracle)
    assert len(got) > 0


# ------------------------------- NULL placement: value_drift decile edges


def test_value_drift_null_cents_cross_engine(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # reference half (early ts): 20 non-null + 4 NULL values; serving
    # half (late ts): shifted distribution. The OLD Spark edge ranks
    # (nulls first) selected edges 4 positions early vs DuckDB.
    rows = [(i, float(i), t0 + dt.timedelta(seconds=i)) for i in range(1, 21)]
    rows += [(100 + j, None, t0 + dt.timedelta(seconds=j)) for j in range(4)]
    rows += [
        (200 + i, float(i + 7), t0 + dt.timedelta(days=30, seconds=i))
        for i in range(1, 21)
    ]
    spark.createDataFrame(
        rows, "event_id BIGINT, value DOUBLE, ts TIMESTAMP"
    ).createOrReplaceTempView("events")
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, value DOUBLE, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
    with mock.patch(
        "dnstap2clickhouse_spark.sources.tables.register_views",
        lambda s, d, t: None,
    ):
        got = ev.value_drift(spark, SF).toPandas()
    oracle = con.execute(ev.value_drift_sql()).df()
    assert _records(got) == _records(oracle)
    assert len(got) >= 5  # non-degenerate: real buckets came out


# ------------------------------ NULL placement: length_outliers medians


def test_length_outliers_null_text_cross_engine(spark):
    # 2 NULL-text docs among 9: the OLD Spark median rank (nulls first)
    # selected 30 where DuckDB selected 50
    rows = [(i, " ".join(["w"] * (i * 10))) for i in range(1, 8)]
    rows += [(8, None), (9, None)]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").createOrReplaceTempView(
        "documents"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    with mock.patch.object(ftext, "load_table", lambda s, d, n: s.table("documents")):
        got = ftext.length_outliers(spark, SF).toPandas()
    oracle = con.execute(ftext.length_outliers_sql()).df()
    assert _records(got) == _records(oracle)
    # nulls-last: the median over 9 rows (rank 5) is the 5th NON-NULL
    # length = 50 in both engines (nulls-first would have given 30)
    assert got["median_tokens"].iloc[0] == 50


# ------------------------- empty-corpus consistency of the scalar paths


@pytest.mark.parametrize(
    "fn,sql,table",
    [
        (ev.equidepth_histogram, ev.equidepth_histogram_sql, "events"),
        (ev.value_drift, ev.value_drift_sql, "events"),
        (ev.exact_percentiles, ev.exact_percentiles_sql, "events"),
        (ev.lorenz_gini, ev.lorenz_gini_sql, "events"),
        (ev.decile_migration, ev.decile_migration_sql, "events"),
        (ev.rfm_segments, ev.rfm_segments_sql, "events"),
        (ev.ab_test, ev.ab_test_sql, "events"),
        (ev.value_quantiles, ev.value_quantiles_sql, "events"),
        (ftext.length_outliers, ftext.length_outliers_sql, "documents"),
    ],
)
def test_scalar_path_entries_empty_corpus_cross_engine(spark, fn, sql, table):
    # every entry with a driver-scalar fallback (n==0 branches, edge
    # collects, guard CASEs) must degrade to the SAME empty relation on
    # both engines — no division-by-zero, no None-built SQL, no raise
    spark.createDataFrame(
        [],
        "event_id BIGINT, event_type STRING, value DOUBLE,"
        " user_id BIGINT, ts TIMESTAMP",
    ).createOrReplaceTempView("events")
    spark.createDataFrame(
        [], "doc_id BIGINT, text STRING, lang STRING"
    ).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, event_type VARCHAR,"
        " value DOUBLE, user_id BIGINT, ts TIMESTAMP)"
    )
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    with mock.patch.object(ev, "load_table", lambda s, d, n: s.table(n)), \
         mock.patch.object(ftext, "load_table", lambda s, d, n: s.table(n)), \
         mock.patch(
             "dnstap2clickhouse_spark.sources.tables.register_views",
             lambda s, d, t: None,
         ):
        got = fn(spark, SF).toPandas()
    oracle = con.execute(sql()).df()
    assert len(got) == 0 and len(oracle) == 0
    assert sorted(got.columns) == sorted(oracle.columns)


# --------------------------------------- ab_test overflow guard + flag


def _events_parquet_views(spark):
    ev.load_table(spark, SF, "events").createOrReplaceTempView("events")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    return con


def test_ab_test_default_cross_engine_with_flag(spark):
    con = _events_parquet_views(spark)
    got = spark.sql(ev.ab_test_sql("spark")).toPandas()
    oracle = con.execute(ev.ab_test_sql("duckdb")).df()
    assert _records(got) == _records(oracle)
    assert "chi2_exact" in got.columns
    assert bool(got["chi2_exact"].all())  # test corpus is far in-range
    assert got["significant"].notna().all()


def test_ab_test_guard_forces_null_identically(spark):
    # shrink the safe bound below the corpus: BOTH engines must emit
    # NULL significant + chi2_exact=false, with every other column
    # identical to the unguarded form — no raise anywhere
    con = _events_parquet_views(spark)
    got = spark.sql(ev.ab_test_sql("spark", safe_nt=1)).toPandas()
    oracle = con.execute(ev.ab_test_sql("duckdb", safe_nt=1)).df()
    assert _records(got) == _records(oracle)
    assert got["significant"].isna().all()
    assert not got["chi2_exact"].any()
    base = spark.sql(ev.ab_test_sql("spark")).toPandas()
    for c in ("variant", "n_users", "n_conv", "conv_e6"):
        assert list(got[c]) == list(base[c])


def test_decimal_overflow_divergence_class(spark):
    # the class the guard closes: the raw 38-digit overflow is not a
    # value on EITHER engine — Spark raises (ANSI, the Spark 4 default)
    # or NULLs (non-ANSI), DuckDB always raises. An unguarded compare
    # can therefore never be trusted past the proven bound.
    big = "CAST(99999999999999999999999999999999999999 AS DECIMAL(38,0)) * 10"
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(Exception):
            spark.sql(f"SELECT {big} AS x").collect()
    else:
        assert spark.sql(f"SELECT {big} AS x").collect()[0][0] is None
    with pytest.raises(Exception):
        duckdb.connect().execute(f"SELECT {big} AS x").fetchall()


def test_ab_safe_nt_bound_is_proven():
    # worst case at the recorded bound must fit in 38 digits, and the
    # next decade must NOT — the constant is a proof, not a vibe
    def left_worst(nt):
        diff = nt * nt // 4
        return ev.AB_CHI2_DEN * nt * diff * diff

    assert left_worst(ev.AB_CHI2_SAFE_NT) < 10**38
    assert left_worst(ev.AB_CHI2_SAFE_NT * 10) >= 10**38


# ------------------------------------ global_prefix_sum totals guard


def test_prefix_totals_guard_raises_with_guidance(spark):
    df = spark.range(64).selectExpr("id AS doc_id", "id AS grp", "1 AS w")
    with mock.patch.object(fsplit, "MAX_PREFIX_TOTALS", 5):
        with pytest.raises(ValueError, match="plain window partitioned by"):
            fsplit.global_prefix_sum(
                spark, df, "doc_id", "w", ("grp",), name="t_r7_guard"
            )


def test_prefix_totals_guard_passes_in_bounds(spark):
    df = spark.range(10).selectExpr("id AS doc_id", "id % 2 AS grp", "1 AS w")
    out = fsplit.global_prefix_sum(
        spark, df, "doc_id", "w", ("grp",), name="t_r7_guard_ok"
    )
    ranks = {
        (r["grp"], r["doc_id"]): r["__base"] + r["__local_end"]
        for r in out.collect()
    }
    # per-group contiguous 1..5 ranks in doc_id order
    for g in (0, 1):
        docs = sorted(d for (gg, d) in ranks if gg == g)
        assert [ranks[(g, d)] for d in docs] == [1, 2, 3, 4, 5]


# --------------------------------------------- audit_hints name counting


@pytest.fixture()
def _hint_views(spark):
    spark.range(10).selectExpr("id AS k", "id AS v").createOrReplaceTempView("t_r7a")
    spark.range(10).selectExpr("id AS k", "id AS w").createOrReplaceTempView("t_r7b")


def test_audit_hints_multiname_partial_drop(spark, _hint_views):
    from tools.audit_plans import audit_hints

    df = spark.sql(
        "SELECT /*+ BROADCAST(a, zz) */ a.k FROM t_r7a a JOIN t_r7b b ON a.k = b.k"
    )
    assert audit_hints(df) == 1  # node-counting read this as 0 (r6 ADVICE)


def test_audit_hints_multiname_all_resolve(spark, _hint_views):
    from tools.audit_plans import audit_hints

    df = spark.sql(
        "SELECT /*+ BROADCAST(a, b) */ a.k FROM t_r7a a JOIN t_r7b b ON a.k = b.k"
    )
    assert audit_hints(df) == 0


def test_audit_hints_eager_df_hint_not_counted(spark, _hint_views):
    # df.hint resolves eagerly (already ResolvedHint in the parsed
    # plan): it must neither read as dropped nor offset the count
    from tools.audit_plans import audit_hints

    df = spark.table("t_r7a").hint("broadcast").join(spark.table("t_r7b"), "k")
    assert audit_hints(df) == 0


# ------------------------------- staged-handle retention across reruns


def test_interleave_mix_held_handle_survives_reinvocation(spark):
    # keep=2 retention contract: a returned DataFrame must stay readable
    # for one full re-invocation. Under the old SHARED staging name the
    # second invocation's two stagings consumed both retention slots and
    # deleted the held handle's parquet (r6 ADVICE 2).
    d1 = fsplit.interleave_mix(spark, SF)
    n1 = d1.count()
    fsplit.interleave_mix(spark, SF).count()
    assert d1.count() == n1


def test_epoch_shuffle_held_handle_survives_reinvocation(spark):
    d1 = fsplit.epoch_shuffle(spark, SF)
    n1 = d1.count()
    fsplit.epoch_shuffle(spark, SF).count()
    assert d1.count() == n1
