"""Round-6 continuation: the `global-window` audit hazard and the three
entries it caught.

An unpartitioned WindowExec moves the whole corpus into ONE task ("No
Partition Defined" WARN — 394 occurrences across a full sweep log).
Three contract entries ran one over raw fact rows: the equi-depth
histogram's global value rank, the MAD gate's two nearest-rank medians,
and the vocab-growth doc rank. Each now computes the rank as the
repo's distributed prefix sum (`splits.global_prefix_sum`) on the
Spark side — DuckDB oracle strings untouched — and the audit parses
the window spec properly (partition columns print WITHOUT a sort
direction; a partition-only window prints two bracket groups exactly
like an order-only one, so group counting misclassifies both ways).
"""

from __future__ import annotations

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as ev
from tools.audit_plans import _window_unpartitioned, audit_plan

SF = "/root/testdata/sf0.001"

ORDER_ONLY = (
    "+- Window [row_number() windowspecdefinition(n_tokens#324L ASC NULLS FIRST, "
    "doc_id#319L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
    "currentrow$())) AS rk#325], [n_tokens#324L ASC NULLS FIRST]"
)
PARTITION_ONLY = (
    "+- Window [min(doc_id#0L) windowspecdefinition(bag_key#9, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) "
    "AS canonical_id#15L], [bag_key#9]"
)
NO_SPEC = (
    "+- Window [count(1) windowspecdefinition(specifiedwindowframe(RowFrame, "
    "unboundedpreceding$(), unboundedfollowing$())) AS n#35L]"
)
PART_AND_ORDER = (
    "+- Window [row_number() windowspecdefinition(event_type#5, ts#2 ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#9], "
    "[event_type#5], [ts#2 ASC NULLS FIRST]"
)


def test_window_spec_parsing():
    assert _window_unpartitioned(ORDER_ONLY)
    assert _window_unpartitioned(NO_SPEC)
    assert not _window_unpartitioned(PARTITION_ONLY)
    assert not _window_unpartitioned(PART_AND_ORDER)


def test_audit_plan_flags_global_window_over_fact(spark):
    from dnstap2clickhouse_spark.sources.tables import load_table

    load_table(spark, SF, "documents").createOrReplaceTempView("documents")
    bad = spark.sql(
        "SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS r FROM documents"
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "global-window" in audit_plan(plan)
    # a rank<=k over the same order rewrites to WindowGroupLimit: bounded
    topk = spark.sql(
        "SELECT * FROM (SELECT doc_id, row_number() OVER "
        "(ORDER BY n_chars, doc_id) AS r FROM documents) WHERE r <= 5"
    )
    plan_k = topk._jdf.queryExecution().executedPlan().toString()
    assert "global-window" not in audit_plan(plan_k)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_equidepth_prefix_sum_equals_sql(spark):
    got = _rows(ev.equidepth_histogram(spark, SF))
    ev.load_table(spark, SF, "events").createOrReplaceTempView("events")
    ref = _rows(spark.sql(ev.equidepth_histogram_sql("spark")))
    assert got == ref and len(got) > 0


def test_length_outliers_prefix_sum_equals_sql(spark):
    got = _rows(ftext.length_outliers(spark, SF))
    ftext.load_table(spark, SF, "documents").createOrReplaceTempView("documents")
    ref = _rows(spark.sql(ftext.length_outliers_sql("spark")))
    assert got == ref and len(got) > 0


def test_vocab_growth_prefix_sum_equals_sql(spark):
    got = _rows(ftext.vocab_growth(spark, SF))
    ftext.load_table(spark, SF, "documents").createOrReplaceTempView("documents")
    ref = _rows(spark.sql(ftext.vocab_growth_sql("spark")))
    assert got == ref and len(got) > 0


def test_fixed_entries_audit_clean(spark):
    for df in (
        ev.equidepth_histogram(spark, SF),
        ftext.length_outliers(spark, SF),
        ftext.vocab_growth(spark, SF),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "global-window" not in audit_plan(plan)


def test_vocab_growth_anchor_present_exactly_once():
    assert ftext.vocab_growth_sql("spark").count(ftext._VG_TK_ANCHOR) == 1
    assert ftext.vocab_growth_sql("spark").startswith("\nWITH ordered AS (")


MULTI_ARG_ORDER = (
    "+- Window [row_number() windowspecdefinition(coalesce(a#1, b#2) ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#9], "
    "[coalesce(a#1, b#2) ASC NULLS FIRST]"
)
MULTI_ARG_PARTITION = (
    "+- Window [min(x#3) windowspecdefinition(coalesce(a#1, b#2), "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) "
    "AS m#9], [coalesce(a#1, b#2)]"
)


def test_window_spec_parsing_multi_arg_expressions():
    """Review finding: a naive comma split classified an ORDER BY over a
    multi-argument expression as partitioned (first fragment lost its
    direction marker) — the hazard class silently passed."""
    assert _window_unpartitioned(MULTI_ARG_ORDER)
    assert not _window_unpartitioned(MULTI_ARG_PARTITION)


def test_global_window_flagged_despite_aggregated_join_side(spark):
    """Review finding: a reducer ANYWHERE in the subtree used to bound
    the window, but the window consumes the JOIN OUTPUT — an aggregate
    on one join side bounds nothing about the fact side's rows."""
    from dnstap2clickhouse_spark.sources.tables import load_table

    load_table(spark, SF, "events").createOrReplaceTempView("events")
    bad = spark.sql(
        "SELECT row_number() OVER (ORDER BY e.value, e.event_id) AS r "
        "FROM events e JOIN (SELECT user_id, count(*) AS c FROM events "
        "GROUP BY user_id) u ON e.user_id = u.user_id"
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "global-window" in audit_plan(plan)


def test_value_drift_prefix_sum_equals_sql(spark):
    """The path-aware detector's catch: value_drift ranked the reference
    half through an unpartitioned window (its aggregated join side used
    to 'bound' it). The staged + prefix-sum form must be row-exact and
    audit-clean."""
    got = _rows(ev.value_drift(spark, SF))
    ref = _rows(spark.sql(ev.value_drift_sql("spark")))
    assert got == ref and len(got) > 0
    plan = ev.value_drift(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert audit_plan(plan) == []


def test_value_drift_anchors_present():
    s = ev.value_drift_sql("spark")
    assert s.count(ev._VD_REF_ANCHOR) == 1
    assert s.count(ev._VD_TAIL_ANCHOR) == 1


def test_prefix_sum_return_total(spark):
    from dnstap2clickhouse_spark.functions.splits import global_prefix_sum
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("w")
    )
    ranked, total = global_prefix_sum(spark, df, "doc_id", "w", return_total=True)
    assert total == sum(i % 7 for i in range(100))
    assert ranked.count() == 100
    # empty input: total 0, no crash
    _, zero = global_prefix_sum(
        spark, df.filter("doc_id < 0"), "doc_id", "w", return_total=True
    )
    assert zero == 0


def test_prefix_sum_output_reads_staged_snapshot(spark):
    """10x-replica finding: the helper's plan used to execute TWICE (the
    totals collect, then the returned join) and the two executions'
    range boundaries / partition ids diverged — ranks came back as a
    NON-permutation (max 1,013,898 over n=1,000,000). The returned
    lineage must therefore read the parquet SNAPSHOT of the partitioned
    cumsum, never re-run the range exchange."""
    from dnstap2clickhouse_spark.functions.splits import global_prefix_sum
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("w")
    )
    ranked = global_prefix_sum(spark, df, "doc_id", "w")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "materialized/prefix_sum" in plan  # snapshot scan
    assert "rangepartitioning" not in plan.lower()  # exchange not re-run
    # and the ranks are an exact permutation
    rk = ranked.select((F.col("__base") + F.col("__local_end")).alias("r"))
    agg = rk.agg(F.min("r"), F.max("r"), F.countDistinct("r")).collect()[0]
    assert tuple(agg) == (1, 1000, 1000)


def test_length_outliers_majority_null_text_falls_back(spark):
    """Review finding: a majority-NULL corpus put Python None into the
    SQL text ('abs(n_tokens - None)') and crashed where the reference
    form degrades to NULL flags — now it falls back to the reference."""
    import unittest.mock as mock

    rows = [(i, None, "en", "s", 0) for i in range(8)] + [
        (8, "a b c", "en", "s", 5),
        (9, "a b", "en", "s", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    with mock.patch.object(ftext, "load_table", lambda s, d, n: s.table("documents")):
        got = sorted(map(tuple, ftext.length_outliers(spark, SF).collect()))
        ref = sorted(
            map(tuple, spark.sql(ftext.length_outliers_sql("spark")).collect())
        )
        assert got == ref and len(got) == 10


def test_length_outliers_empty_corpus_matches_reference(spark):
    import unittest.mock as mock

    empty = spark.createDataFrame(
        [], "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    empty.createOrReplaceTempView("documents")
    with mock.patch.object(ftext, "load_table", lambda s, d, n: s.table("documents")):
        assert ftext.length_outliers(spark, SF).collect() == []
