"""Round-4 fixes, pinned.

- J1 joins: the SHUFFLE_HASH hints keep Catalyst from broadcasting a
  corpus-sized stream side through the driver (round-3 bench regression).
- The daemon's foreachBatch fan-out: one evaluation per micro-batch
  (persisted batch) for both count tables.
- events_sketch_stats: accuracy-bound form is self-certifying (booleans
  all true ⇒ the DuckDB hash match proves sketch accuracy, not row count).
"""

from __future__ import annotations

import shutil
import tempfile

from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

# --------------------------------------------------------------- J1 joins

def test_match_joins_never_broadcast(spark):
    """Both J1 flavors must plan a shuffle-side hash join, not a
    BroadcastHashJoin: every side is event-scale, and a driver broadcast
    is exactly the plan that dies at 100 TB (and caused the round-3
    dns_match_once drift)."""
    from dnstap2clickhouse_spark.operators.join import (
        match_response_times,
        match_response_times_once,
    )
    from dnstap2clickhouse_spark.sources.events import dns_pair_streams

    q, r = dns_pair_streams(spark, SF)
    for df in (match_response_times(q, r), match_response_times_once(q, r)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan[:800]
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan

# ------------------------------------------------- daemon foreachBatch fan-out

def test_foreach_batch_evaluates_once(spark):
    """Both count tables must read ONE materialization of the micro-batch
    (round-3 verdict: every micro-batch was computed twice). A
    row-side-effect accumulator counts evaluations."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from dnstap2clickhouse_spark.__main__ import CHUNK_SCHEMA, _mapped_writer, build_streams
    from dnstap2clickhouse_spark.config import EngineConfig

    acc = spark.sparkContext.accumulator(0)

    @F.udf(LongType())
    def tick(x):
        acc.add(1)
        return x

    d = tempfile.mkdtemp(prefix="once_")
    try:
        src, out = os.path.join(d, "src"), os.path.join(d, "out")
        ev = load_table(spark, SF, "events")
        n_rows = ev.count()
        ev.coalesce(1).write.parquet(src)
        sdf = spark.readStream.schema(CHUNK_SCHEMA).parquet(src).withColumn("event_id", tick("event_id"))
        _, tables = build_streams(spark, EngineConfig(), src)
        assert set(tables) == {"clientQuery", "clientResponse"}
        q = (
            sdf.writeStream.foreachBatch(_mapped_writer(out, tables))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=120)
        assert [p["numInputRows"] for p in q.recentProgress] == [n_rows]
        for table in tables:
            assert spark.read.parquet(os.path.join(out, table)).count() > 0
        # one pass fills the persisted batch; the second table reads it.
        # (allow a few task-retry stragglers, forbid the 2x signature)
        assert acc.value < 2 * n_rows, f"batch evaluated twice: {acc.value} ticks"
    finally:
        shutil.rmtree(d, ignore_errors=True)

# -------------------------------------------- CC pointer-doubling rounds

def test_cc_long_chain_converges_in_log_rounds(spark):
    """A 100-edge chain (diameter 100) must converge in O(log d) rounds —
    the pointer-jumping step, not diameter-many shuffles (round-3 verdict:
    plain propagation is pathological on chain-shaped components)."""
    import math

    from dnstap2clickhouse_spark.functions import dedup

    n = 101
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
    labels = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"]).selectExpr(
        "doc_id", "doc_id AS cluster_id"
    )
    rounds: list[int] = []
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.propagate_min_labels(labels, pairs, rounds).collect()
    }
    assert set(out.values()) == {0} and len(out) == n
    assert rounds[0] <= math.ceil(math.log2(n - 1)) + 3, rounds  # 9 measured

# ------------------------------------------------------ plan-hazard audit

def test_plan_auditor_subset():
    """tools/audit_plans.py (scale-regime audit: auto-broadcast disabled,
    code-forced plans only) must pass on a representative subset; since
    r9 the all-pairs verifier entry audits clean (sampled residue-keyed
    equi-join) instead of carrying a waiver."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "audit_plans.py"),
            SF,
            "dns_match_once",
            "dns_response_time_join",
            "sim_cosine_topk",
            "sim_lsh_ann",
            "text_decontaminate",
            "dedup_embedding_cosine",
            "curate_corpus_v2",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-1000:]
    assert "hazard failures: 0" in proc.stdout
    # r9: the all-pairs verifier entry now runs the residue-keyed SAMPLED
    # form (functions/ground_truth.py) — hazard-free, no waiver left
    assert "ok    dedup_embedding_cosine" in proc.stdout
    assert "WAIVE" not in proc.stdout

def test_audit_plan_detects_hazards():
    """The detector itself: a fact-scan broadcast without a reducer is
    flagged; with a limit/aggregate in the subtree it is not."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from audit_plans import audit_plan

    bad = (
        "BroadcastHashJoin\n"
        ":- Scan parquet [a] Location [file:/x/part.parquet]\n"
        "+- BroadcastExchange\n"
        "   +- Filter isnotnull(b)\n"
        "      +- Scan parquet [b] Location [file:/x/events.parquet]\n"
    )
    assert audit_plan(bad) == ["broadcast-of-fact"]
    good = bad.replace("Filter isnotnull(b)", "HashAggregate(keys=[b])")
    assert audit_plan(good) == []
    limited = bad.replace("Filter isnotnull(b)", "GlobalLimit 8")
    assert audit_plan(limited) == []
    nl = (
        "BroadcastNestedLoopJoin BuildRight, Inner\n"
        ":- Scan parquet [a] Location [file:/x/documents.parquet]\n"
        "+- BroadcastExchange\n"
        "   +- Scan parquet [b] Location [file:/x/documents.parquet]\n"
    )
    assert "nested-loop" in audit_plan(nl)

# ---------------------------------------------- new round-4 text operators

def test_pii_scrub_redacts_every_class(spark):
    """Crafted fixture: each PII class is found, replaced with its typed
    token, and leaves zero residue — checked on text we control, not just
    the in-query injection."""
    from dnstap2clickhouse_spark.functions import text as ft

    rows = [
        (1, "mail me at a.b+c@foo-bar.org today", "en", "src1", 30),
        (2, "server at 192.168.001.12 down", "en", "src1", 29),
        (3, "call +1 555-0199 now", "en", "src1", 20),
        (4, "clean document with no pii", "en", "src1", 26),
    ]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    spark.createDataFrame(rows, cols).createOrReplaceTempView("documents")
    try:
        got = {r.doc_id: r for r in spark.sql(ft.pii_scrub_sql("spark")).collect()}
        # injection adds exactly one of each class to every doc
        for d, r in got.items():
            assert r.clean, (d, r)
        assert got[1].n_email == 2 and got[2].n_email == 1
        assert got[2].n_ip == 2 and got[1].n_ip == 1
        assert got[3].n_phone == 2 and got[4].n_phone == 1
        # duckdb dialect agrees verbatim
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=cols))
        odf = con.execute(ft.pii_scrub_sql("duckdb")).df()
        want = {int(r.doc_id): r for _, r in odf.iterrows()}
        for d in got:
            assert got[d].scrub_hash == want[d].scrub_hash
            assert "<EMAIL>" not in got[d].scrub_hash  # hash, not text
    finally:
        load_table(spark, SF, "documents").createOrReplaceTempView("documents")

def test_dup_span_fraction_known_graph(spark):
    """Two identical 10-token docs share every 8-gram; a disjoint doc
    shares none; a short doc has no grams at all."""
    from dnstap2clickhouse_spark.functions import text as ft

    dup = " ".join(f"w{i}" for i in range(10))
    other = " ".join(f"x{i}" for i in range(10))
    rows = [
        (1, dup, "en", "s", 1),
        (2, dup, "en", "s", 1),
        (3, other, "en", "s", 1),
        (4, "too short", "en", "s", 1),
    ]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    spark.createDataFrame(rows, cols).createOrReplaceTempView("documents")
    try:
        got = {r.doc_id: r for r in spark.sql(ft.dup_span_fraction_sql("spark")).collect()}
        assert got[1].n_grams == 3 and got[1].dup_fraction == 1.0 and got[1].mostly_dup
        assert got[2].dup_fraction == 1.0
        assert got[3].n_grams == 3 and got[3].dup_fraction == 0.0 and not got[3].mostly_dup
        assert got[4].n_grams == 0 and got[4].dup_fraction == 0.0 and not got[4].mostly_dup
    finally:
        load_table(spark, SF, "documents").createOrReplaceTempView("documents")

# --------------------------------------------------- incremental ingest

def test_incremental_ingest_decisions_consistent_with_verified_pairs(spark):
    """Every rejected new doc must have a verified near-dup partner in
    the existing corpus (consistency with the two-sided ground truth),
    and every admitted one must have none."""
    from dnstap2clickhouse_spark.functions import dedup

    rows = {r.doc_id: r for r in dedup.incremental_ingest(spark, SF).collect()}
    assert rows, "ingest batch must be non-empty"
    # ground truth: full verified pair list, filtered to new-vs-old pairs
    pairs = dedup.lsh_verified_pairs(spark, SF).collect()
    new_ids = set(rows)
    partners: dict[int, set] = {}
    for p in pairs:
        for a, b in ((p.doc_a, p.doc_b), (p.doc_b, p.doc_a)):
            if a in new_ids and b not in new_ids:
                partners.setdefault(a, set()).add(b)
    for doc_id, r in rows.items():
        if r.admit:
            assert doc_id not in partners, (doc_id, partners.get(doc_id))
            assert r.matched_corpus_id == -1 and r.best_jaccard == 0.0
        else:
            assert doc_id in partners
            assert r.matched_corpus_id in partners[doc_id]
            assert r.best_jaccard >= dedup.JACCARD_THRESHOLD

# ------------------------------------------------- sequence packing

def test_pack_token_chunks_invariants(spark):
    """Packing offsets must be contiguous (each doc starts where the
    previous ended), chunk spans consistent with seq_len, and identical
    under different shuffle-partition settings (the distributed prefix
    sum is partitioning-independent)."""
    from dnstap2clickhouse_spark.functions import splits as fs

    rows = fs.pack_token_chunks(spark, SF).collect()
    expect_start = 0
    for r in sorted(rows, key=lambda r: r.doc_id):
        assert r.start_tok == expect_start
        expect_start += r.n_tokens
        assert r.start_chunk == r.start_tok // fs.SEQ_LEN
        if r.n_tokens > 0:
            assert r.end_chunk == (r.start_tok + r.n_tokens - 1) // fs.SEQ_LEN

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows3 = fs.pack_token_chunks(spark, SF).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(map(tuple, rows3)) == sorted(map(tuple, rows))

# ----------------------------------------------------- simhash pair gen

def test_simhash_pairs_bands_catch_identical_docs(spark):
    """Identical docs -> hamming 0, found through banding; disjoint-vocab
    docs -> far signatures, no pair. Verified against brute-force hamming
    over the signatures themselves (catches band-extraction bugs)."""
    from dnstap2clickhouse_spark.functions import dedup
    from dnstap2clickhouse_spark.sources.tables import load_table

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, text_a, "en", "s", 1),
        (2, text_a, "en", "s", 1),
        (3, "one two three four five six seven eight", "en", "s", 1),
    ]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    spark.createDataFrame(rows, cols).createOrReplaceTempView("documents")
    try:
        sigs = {
            r.doc_id: r.simhash
            for r in spark.sql(dedup.simhash_signatures_sql("spark")).collect()
        }
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in spark.sql(dedup.simhash_pairs_sql("spark")).collect()
        }
        # brute-force expectation over the 3 signatures
        want = {}
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= dedup.SIMHASH_HAMMING_MAX:
                    want[(a, b)] = h
        assert got == want
        assert got[(1, 2)] == 0  # the identical pair must be present
    finally:
        load_table(spark, SF, "documents").createOrReplaceTempView("documents")

# ------------------------------- property tests for the round-4 text ops

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    _words = st_h.lists(
        st_h.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=0,
        max_size=14,
    )

    @given(st_h.lists(_words, min_size=1, max_size=5))
    @settings(max_examples=5, deadline=None)
    def test_dup_span_fraction_equals_python_ground_truth(docs):
        """Spark's duplicated-span fraction equals a pure-Python 8-gram
        computation on random corpora (few examples — each runs Spark)."""
        from dnstap2clickhouse_spark.functions import text as ft
        from dnstap2clickhouse_spark.session import get_spark
        from dnstap2clickhouse_spark.sources.tables import load_table

        spark = get_spark("test")
        K = ft.DUPSPAN_K
        texts = [" ".join(w) for w in docs]

        def grams(t):
            toks = t.split(" ")
            return {
                " ".join(toks[i : i + K]) for i in range(len(toks) - K + 1)
            } if len(toks) >= K else set()

        gsets = [grams(t) for t in texts]
        from collections import Counter

        df_count = Counter(g for gs in gsets for g in gs)
        rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        spark.createDataFrame(rows, cols).createOrReplaceTempView("documents")
        try:
            got = {
                r.doc_id: (r.n_grams, r.n_shared_grams)
                for r in spark.sql(ft.dup_span_fraction_sql("spark")).collect()
            }
        finally:
            load_table(spark, "/root/testdata/sf0.001", "documents").createOrReplaceTempView(
                "documents"
            )
        for i, gs in enumerate(gsets):
            shared = sum(1 for g in gs if df_count[g] > 1)
            assert got[i] == (len(gs), shared), (i, texts[i])

    @given(_words)
    @settings(max_examples=5, deadline=None)
    def test_pii_scrub_clean_on_alpha_text(words):
        """On PII-free alphabetic text, exactly the injected specimens are
        found (one per class) and the scrub leaves zero residue."""
        from dnstap2clickhouse_spark.functions import text as ft
        from dnstap2clickhouse_spark.session import get_spark
        from dnstap2clickhouse_spark.sources.tables import load_table

        spark = get_spark("test")
        text = " ".join(words)
        rows = [(0, text, "en", "s", len(text))]
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        spark.createDataFrame(rows, cols).createOrReplaceTempView("documents")
        try:
            [r] = spark.sql(ft.pii_scrub_sql("spark")).collect()
        finally:
            load_table(spark, "/root/testdata/sf0.001", "documents").createOrReplaceTempView(
                "documents"
            )
        assert (r.n_email, r.n_ip, r.n_phone) == (1, 1, 1)
        assert r.clean

except ImportError:  # pragma: no cover
    pass

# ------------------------------------------------------------ IVF recall

def test_ivf_recall_metric_shape(spark):
    """One recall row per query vector, bounded in [0,1], nonzero overall
    (synthetic random embeddings make ANN recall modest by nature — the
    deliverable is the in-engine metric, mirrored for the LSH path)."""
    from dnstap2clickhouse_spark.functions import similarity as fsim

    rows = fsim.ivf_recall(spark, SF).collect()
    assert len(rows) == fsim.N_QUERIES
    assert all(0.0 <= r.recall_at_k <= 1.0 for r in rows)
    assert sum(r.n_hits for r in rows) > 0

# ------------------------------------------------------- sketch accuracy

def test_sketch_accuracy_bounds_hold(spark):
    """All accuracy booleans true at test scale — the property the DuckDB
    hash match certifies at the driver."""
    from dnstap2clickhouse_spark.plans.events_analytics import sketch_accuracy

    rows = sketch_accuracy(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.users_ok and r.p50_ok and r.p95_ok, r
        assert r.n_events > 0 and r.exact_users > 0
