"""Degenerate-corpus edges of the single-pass sweep instruments: the
one-pass Spark forms replace scalar subqueries / per-arm UNIONs whose
empty-input behavior was an argless aggregate's guaranteed row. The
restructures must reproduce that exactly — `coalesce`d sums, the
ladder LEFT JOIN, and the unpivot over the one funnel row — so a
corpus with ZERO qualifying pairs (every document unique) must yield
bit-identical rows from both dialects, including recall's defined-as-
1.0 zero-denominator case.
"""

from __future__ import annotations

import duckdb

from dnstap2clickhouse_spark.functions import dedup as fdedup


def _docs(n: int) -> list[tuple[int, str, str, str, int]]:
    """n documents with pairwise-disjoint token streams — no shared
    shingle anywhere, so exact pairs AND LSH candidates are both empty."""
    rows = []
    for i in range(n):
        text = " ".join(f"tok{i}x{j}" for j in range(30))
        rows.append((i, text, "en", "src", len(text)))
    return rows


def _register_both(spark, rows):
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    return con


def test_minhash_recall_zero_pair_corpus_both_dialects(spark):
    con = _register_both(spark, _docs(12))
    got = spark.sql(fdedup.minhash_recall_sql("spark")).collect()
    assert len(got) == 1
    r = got[0]
    # the defined zero-denominator case: no true pairs -> recall 1.0
    assert (r.n_found, r.n_true, r.pair_recall, r.n_false_pos) == (0, 0, 1.0, 0)
    oracle = con.execute(fdedup.minhash_recall_sql("duckdb")).fetchall()
    assert oracle == [(0, 0, 1.0, 0)]


def test_band_sweep_zero_candidate_corpus_both_dialects(spark):
    con = _register_both(spark, _docs(12))
    got = sorted(
        (r.n_bands, r.rows_per_band, r.n_candidates, r.n_verified, r.cand_monotone)
        for r in spark.sql(fdedup.band_sweep_sql("spark")).collect()
    )
    # one row per swept config even with zero candidates anywhere
    assert [g[0] for g in got] == sorted(fdedup.BAND_SWEEP)
    assert all(g[2] == 0 and g[3] == 0 and g[4] for g in got)
    oracle = sorted(con.execute(fdedup.band_sweep_sql("duckdb")).fetchall())
    assert [tuple(g) for g in got] == [tuple(o) for o in oracle]
