"""The audit tool's payload-scan census (`audit_plans.scan_census`):
Spark inlines multi-referenced deterministic CTEs, so a cheap map-CTE
over the corpus re-scans its parquet once per reference. The census
makes that multiplicity VISIBLE in every audit run (info tag, never a
failure), and this file pins the structural guarantee that keeps it
benign: the EXPENSIVE CTEs of the k-means consumer chain (the Lloyd
rounds, the member join, the intra-cluster pair join) are referenced
exactly once per plan — only map-only CTEs (quantize/norm) multiply.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from audit_plans import SCAN_INFO_AT, scan_census

from dnstap2clickhouse_spark.functions import similarity as fsim


def test_scan_census_counts_payload_scans():
    plan = (
        "HashAggregate\n"
        "+- FileScan parquet [vec_id#1L,embedding#2] ... file:/x/embeddings.parquet\n"
        ":- FileScan parquet [vec_id#3L] ... file:/x/embeddings.parquet\n"
        "+- FileScan parquet [doc_id#4L,text#5] ... file:/x/documents.parquet\n"
        "+- FileScan parquet [o_orderkey#6L] ... file:/x/orders.parquet\n"
    )
    census = scan_census(plan)
    # embeddings: 2 scans, 1 reads the payload column
    assert census["embeddings"] == (2, 1)
    # documents: 1 scan reading text
    assert census["documents"] == (1, 1)
    # orders has no payload column configured: counted, zero heavy
    assert census["orders"] == (1, 0)
    assert SCAN_INFO_AT >= 2  # info tags need real multiplicity


def test_audit_tool_prints_census_tag():
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "audit_plans.py"),
            "/root/testdata/sf0.001",
            "sim_kmeans",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-500:]
    # the 2-Lloyd chain reads the embedding payload once per map-CTE
    # reference — the census must surface it on the ok line
    assert re.search(r"ok    sim_kmeans  \[payload scans: embeddings x\d+\]", proc.stdout)


def test_sweep_instruments_are_single_pass_on_spark():
    """The funnel/sweep instruments whose arm UNIONs / scalar
    subqueries re-planned an expensive shared CTE per arm (Spark
    inlines; DuckDB materializes) now carry a one-pass Spark form —
    the audit census measured them at 40/25/24/18 payload scans before
    and 8/8/8/12 after. DuckDB keeps the historical forms (oracle
    byte-stability). Pin the structural markers of both dialects."""
    from dnstap2clickhouse_spark.functions import dedup as fdedup
    from dnstap2clickhouse_spark.plans import curation as pcur

    s = fdedup._minhash_recall_sql("spark")
    assert "FULL OUTER JOIN lsh_pairs" in s and "(SELECT count(*) FROM hits)" not in s
    k = fdedup._minhash_recall_sql("duckdb")
    assert "(SELECT count(*) FROM hits)" in k and "FULL OUTER JOIN" not in k

    s = fdedup._band_sweep_sql("spark")
    assert "(SELECT CAST(count(*) AS BIGINT) FROM cand" not in s
    assert s.count("n_candidates") >= 4  # fused count+verify per config
    k = fdedup._band_sweep_sql("duckdb")
    assert "(SELECT CAST(count(*) AS BIGINT) FROM cand4)" in k

    from dnstap2clickhouse_spark.functions import similarity as fsim

    # (brute's own internal `scored` CTE also matches "FROM scored" —
    # count the sweep's references via the per-arm filter form)
    s = fsim._nprobe_sweep_sql("spark")
    assert "FROM VALUES" in s and s.count("FROM scored s") == 1
    assert s.count("FROM scored WHERE first_probe") == 0
    k = fsim._nprobe_sweep_sql("duckdb")
    assert k.count("FROM scored WHERE first_probe") == len(fsim.NPROBE_LADDER)

    s = pcur._yield_report_sql("spark")
    assert "LATERAL VIEW inline(array(" in s and s.count("FROM funnel") == 1
    k = pcur._yield_report_sql("duckdb")
    assert k.count("FROM funnel") == len(pcur.YIELD_STAGES)


def test_embedding_recall_single_pass_and_fps_df_form(spark):
    """The census' two worst lines after the first fix round:
    `dedup_embedding_lsh_recall` (52 payload scans — the minhash_recall
    restructure's embedding twin, now a FULL OUTER JOIN aggregate) and
    `sim_farthest_init` (36 — the chained center CTEs re-expand
    multiplicatively; now a driver-looped DataFrame form over a
    persisted corpus, the pagerank/kcore precedent). Pin the string
    shape, the DuckDB forms, and DF == SQL bit-equality for the greedy
    selection."""
    s = fsim._embedding_lsh_recall_sql("spark")
    assert "FULL OUTER JOIN lsh_pairs" in s and "(SELECT count(*) FROM hits)" not in s
    k = fsim._embedding_lsh_recall_sql("duckdb")
    assert "(SELECT count(*) FROM hits)" in k and "FULL OUTER JOIN" not in k

    sf = "/root/testdata/sf0.001"
    fsim._register(spark, sf)
    sql_rows = [
        (r.sel, r.cid, r.radius_e6)
        for r in spark.sql(fsim._farthest_init_sql("spark")).collect()
    ]
    df_rows = [
        (r.sel, r.cid, r.radius_e6) for r in fsim.farthest_init(spark, sf).collect()
    ]
    assert df_rows == sql_rows and len(df_rows) == fsim.FPS_K


def test_markov_pairs_materialized_once(spark):
    """`events_markov_stationary` evaluates its transition matrix once
    via materialize_scan (the CacheManager does not substitute a cached
    relation into a WITH-consumer — measured), so the entry plan's
    events scans are gone; the result must equal the pure SQL form."""
    from dnstap2clickhouse_spark.plans import events_analytics as pev
    from dnstap2clickhouse_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    load_table(spark, sf, "events").createOrReplaceTempView("events")
    sql_rows = sorted(
        tuple(r) for r in spark.sql(pev._markov_stationary_sql("spark")).collect()
    )
    ent = pev.markov_stationary(spark, sf)
    df_rows = sorted(tuple(r) for r in ent.collect())
    assert df_rows == sql_rows and df_rows
    plan = ent._jdf.queryExecution().executedPlan().toString()
    assert "markov_pairs" in plan  # reads the materialized table


def test_farthest_init_degenerate_corpus_matches_sql(spark):
    """Review finding: a corpus with NO vec_id=0 seed row made the
    DataFrame form crash (IndexError on the empty per-round argmax)
    while the SQL form returns the empty relation. Both forms must
    yield the same empty result."""
    import duckdb as _duck

    rows = [(i + 5, [float(i), 1.0]) for i in range(4)]  # ids 5..8, no 0
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).createOrReplaceTempView("embeddings")
    assert spark.sql(fsim._farthest_init_sql("spark")).collect() == []
    # call the DF form against the same temp view (bypass _register)
    import dnstap2clickhouse_spark.functions.similarity as s

    orig = s._register
    s._register = lambda *a, **k: None
    try:
        got = s.farthest_init(spark, "unused")
        assert got.collect() == []
    finally:
        s._register = orig
    con = _duck.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    assert con.execute(fsim._farthest_init_sql("duckdb")).fetchall() == []


def test_expensive_ctes_are_single_referenced():
    """The scan census stays benign only while the EXPENSIVE CTEs are
    single-consumers: a second reference to a Lloyd round or the pair
    join would double the whole corpus-sized subtree (Spark inlines,
    0 ReusedExchange — measured). Pin refcount == 1 in both dialects."""
    for build in (fsim._semantic_dedup_sql, fsim._knn_graph_sql, fsim._hard_negatives_sql):
        for dialect in ("spark", "duckdb"):
            sql = build(dialect)
            for cte in ("a1", "c1", "a2", "pairs"):
                defs = len(re.findall(rf"\b{cte} AS \(", sql))
                refs = len(re.findall(rf"\b{cte}\b", sql)) - defs
                assert defs == 1, (build.__name__, dialect, cte, defs)
                assert refs == 1, (build.__name__, dialect, cte, refs)
