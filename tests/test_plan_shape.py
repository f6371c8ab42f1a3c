"""Physical-plan regression guards for the scale-critical properties:
column pruning reaches the parquet scan, filters push down, top-k stays
TakeOrderedAndProject, and the grouping-set aggregation keeps its
single-shuffle shape. These are the properties SCALING.md measures —
pinned here so a refactor can't silently regress them.
"""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_cols(plan: str) -> list[list[str]]:
    return [
        [c.split("#")[0] for c in m.split(",")]
        for m in re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    ]


def test_text_stats_scan_prunes_to_two_columns(spark):
    scans = _scan_cols(_plan(spark, "text_stats"))
    assert scans == [["doc_id", "text"]]  # 2 of the 5 documents columns


def test_pricing_summary_pushdown_and_single_shuffle(spark):
    plan = _plan(spark, "tpch_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    (cols,) = _scan_cols(plan)
    assert "l_comment" not in cols and len(cols) <= 8  # pruned scan


def test_top_orders_is_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "tpch_top_orders")
    assert "TakeOrderedAndProject" in plan
    # the date filters reach both fact scans
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_grouping_sets_agg_is_single_shuffle(spark):
    """A2-A4: three simultaneous grouping sets in ONE groupBy — the
    explode-variant expansion must not reintroduce per-set shuffles."""
    plan = _plan(spark, "dns_client_query_agg")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # map-side partial aggregation present
    assert "partial_" in plan


def test_dns_stream_split_pushes_to_scan(spark):
    """The even/odd event_id stream split must reach the parquet scan as
    a data filter, not run as a post-scan Filter-only plan."""
    plan = _plan(spark, "dns_response_time_join")
    assert "(event_id" in plan and "% 2)" in plan  # residue filter visible
    assert len(re.findall(r"FileScan parquet", plan)) == 2  # one per side


def test_curate_v2_has_no_quadratic_joins(spark):
    """The composed curation chain must stay hash/broadcast-joined:
    no cartesian products or nested-loop joins anywhere in the plan,
    and the near-dup stage's candidate join present as an equi-join."""
    plan = _plan(spark, "curate_corpus_v2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_decontaminate_train_side_not_shuffled_by_gram(spark):
    """The eval n-gram set must broadcast. The training corpus's
    exchanges are doc_id-keyed (per-doc distinct, hit count); the only
    gram-only exchange allowed is the eval side's DISTINCT before the
    broadcast — small by construction."""
    plan = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    gram_only = [k for k in keys if "gram" in k and "doc_id" not in k]
    assert len(gram_only) <= 1


def test_customer_dist_outer_join_preserves_zero_counts(spark):
    """Q13 shape: the ON-clause filter must keep zero-order customers
    (LEFT OUTER, not inner), and the histogram must include c_count=0."""
    plan = _plan(spark, "tpch_customer_dist")
    assert "LeftOuter" in plan
    rows = {r.c_count: r.custdist for r in
            entrymod.queries()["tpch_customer_dist"](spark, SF).collect()}
    # every customer must survive the outer join into exactly one bucket
    # (an inner join would silently drop zero-order customers)
    n_customers = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert sum(rows.values()) == n_customers


def test_top_supplier_scalar_subquery_not_self_join(spark):
    """Q15 shape: the max-revenue threshold compiles to a (reused)
    scalar subquery, not a shuffled self-join of the aggregate."""
    plan = _plan(spark, "tpch_top_supplier")
    assert "Subquery" in plan or "scalar-subquery" in plan
