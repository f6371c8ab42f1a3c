"""Round-4 batch-28 operators: text-LSH recall and the per-source
scorecard. Pins: recall consistency with the standalone pair entries,
and the scorecard's reconciliation with the yield funnel and v2
output. The clustering-coefficient tests live in ``test_graph.py``.
"""

from __future__ import annotations

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.plans import curation as pcur
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ minhash recall


def test_minhash_recall_consistent_with_pair_entries(spark):
    [row] = fdedup.minhash_recall(spark, SF).collect()
    exact = {(r.doc_a, r.doc_b)
             for r in fdedup.ngram_jaccard_pairs(spark, SF).collect()}
    verified = {(r.doc_a, r.doc_b)
                for r in fdedup.lsh_verified_pairs(spark, SF).collect()}
    assert row.n_true == len(exact)
    assert row.n_found == len(exact & verified)
    assert row.n_false_pos == len(verified - exact)
    assert row.n_false_pos == 0  # precision 1.0, structurally
    assert row.pair_recall == row.n_found / row.n_true
    # the fixed hash family holds banding recall high on this corpus
    assert row.pair_recall >= 0.9


# ------------------------------------------------ source scorecard


def test_scorecard_reconciles_with_funnel_and_v2(spark):
    rows = pcur.source_scorecard(spark, SF).collect()
    funnel = {r.gate: r for r in pcur.yield_report(spark, SF).collect()}
    # corpus coverage: all non-eval sources, doc counts sum to stage 0
    assert sum(r.n_docs for r in rows) == funnel["corpus"].n_out
    # total kept equals the pipeline output
    v2_n = pcur.curate_corpus_v2(spark, SF).count()
    assert sum(r.n_kept for r in rows) == v2_n
    from dnstap2clickhouse_spark.functions.text import EVAL_SOURCE

    assert EVAL_SOURCE not in {r.source for r in rows}


def test_scorecard_mean_quality_replay(spark):
    """Mean quality replays exactly: per-doc e6 quantization then
    integer mean (no float sums)."""
    from dnstap2clickhouse_spark.functions.text import (
        _quality_expr,
        _stats_exprs,
        EVAL_SOURCE,
    )

    stats = ", ".join(_stats_exprs("spark"))
    load_table(spark, SF, "documents").createOrReplaceTempView("documents")
    q = spark.sql(f"""
        SELECT d.source, {_quality_expr()} AS quality
        FROM (SELECT {stats} FROM documents WHERE source <> '{EVAL_SOURCE}') s
        JOIN documents d ON d.doc_id = s.doc_id""").collect()
    per_source: dict = defaultdict(list)
    for r in q:
        per_source[r.source].append(
            int(Decimal(r.quality * 1_000_000).quantize(0, ROUND_HALF_UP))
        )
    out = {r.source: r for r in pcur.source_scorecard(spark, SF).collect()}
    for s, qs in per_source.items():
        assert out[s].mean_q_e6 == sum(qs) // len(qs)
