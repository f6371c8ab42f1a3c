"""Split invariants and physical-plan-shape regressions for the newer
operators (the plan is the product at 100 TB: these fail if a future
change degrades the strategy, not just the results)."""

from __future__ import annotations

from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.plans import curation, tpch
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

def test_split_partition_invariance(spark):
    """The split must be a pure function of the key — identical under any
    physical layout (the reason sample()/sampleBy() were rejected)."""
    a = {(r.doc_id, r.split) for r in fsplit.split_assignments(spark, SF).collect()}
    docs = load_table(spark, SF, "documents").repartition(17, "lang")
    b = {
        (r.doc_id, r.split)
        for r in fsplit.assign_split(docs).select("doc_id", "split").collect()
    }
    assert a == b

def test_split_complete_and_disjoint(spark):
    rows = fsplit.split_assignments(spark, SF).collect()
    n = load_table(spark, SF, "documents").count()
    assert len(rows) == n
    assert all(r.split in ("train", "val", "test") for r in rows)
    assert all(0 <= r.bucket < 100 for r in rows)
    frac_train = sum(r.split == "train" for r in rows) / n
    assert 0.7 <= frac_train <= 0.9  # 80 buckets of 100, hash-uniform

def test_stratified_rates_respected(spark):
    sampled = fsplit.stratified_sample(spark, SF)
    docs = load_table(spark, SF, "documents")
    for lang, kept in sampled.groupBy("lang").count().collect():
        total = docs.filter(docs.lang == lang).count()
        rate = fsplit.STRATA_RATES.get(lang, fsplit.DEFAULT_RATE) / 100
        # hash-uniform buckets: observed rate within a loose band
        assert kept / total <= rate + 0.25 and kept / total >= max(rate - 0.25, 0.0)

def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

def _n_nodes(plan: str, op: str) -> int:
    import re

    return len(re.findall(rf"\(\d+\) {op}\b", plan))

def test_exists_decorrelates_to_semi_join(spark):
    plan = _physical(tpch.exists_late_ship(spark, SF))
    # EXISTS must become a semi join (broadcast here), not join+distinct
    assert "LeftSemi" in plan, plan
    assert _n_nodes(plan, "BroadcastExchange") >= 0  # small side broadcastable

def test_curation_single_plan_no_collects(spark):
    df = curation.curate_corpus(spark, SF)
    plan = _physical(df)
    # survivor selection is window-based over ONE shuffle on the dedup
    # key; the only other exchange is the final demo sort
    assert _n_nodes(plan, "Window") == 1
    assert _n_nodes(plan, "Exchange") <= 2, plan

def test_curate_v2_respects_every_gate(spark):
    """Every v2 survivor passes each gate individually; every gated-out
    doc is absent."""
    from dnstap2clickhouse_spark.plans import curation as pc
    from dnstap2clickhouse_spark.functions import dedup as fd, splits as fp, text as ft

    SF = "/root/testdata/sf0.001"
    kept = {r.doc_id: r for r in pc.curate_corpus_v2(spark, SF).collect()}
    assert kept
    quality = {r.doc_id: r.quality for r in ft.quality_scores(spark, SF).collect()}
    rep = {r.doc_id: r.keep for r in ft.repetition_filter(spark, SF).collect()}
    contam = {r.doc_id: r.contaminated for r in ft.decontaminate(spark, SF).collect()}
    dropped = {r.doc_b for r in fd.lsh_verified_pairs(spark, SF).collect()}
    resampled = {r.doc_id for r in fp.quality_resample(spark, SF).collect()}
    for d, row in kept.items():
        assert quality[d] >= pc.QUALITY_MIN
        assert rep[d] is True
        assert d in contam and contam[d] is False  # train side, clean
        assert d not in dropped
        assert d in resampled
        assert row.quality == quality[d]
