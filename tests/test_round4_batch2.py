"""Round-4 batch-2 operators, pinned by invariants at smoke scale.

The oracle gate (tools/check_correctness.py and the driver) proves
value-exactness; these tests pin the SEMANTIC invariants each operator
exists to provide, so a refactor that stays hash-consistent with a
changed oracle still can't silently change meaning. The PageRank
tests live in ``test_graph.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.plans import tpch

SF = "/root/testdata/sf0.001"

# ------------------------------------------------------- TPC-H analogues

def test_promo_revenue_ratio_bounds(spark):
    row = tpch.promo_revenue(spark, SF).collect()[0]
    assert 0.0 <= row.promo_pct <= 100.0
    assert 0.0 < row.promo_revenue < row.total_revenue
    # the ratio is exactly the two sums' quotient (one fp division)
    assert row.promo_pct == 100.0 * row.promo_revenue * 10000 / (row.total_revenue * 10000)

def test_disjunctive_revenue_clauses_union(spark):
    """The OR result equals the sum of per-clause counts (clauses are
    brand-disjoint, so no double counting)."""
    total = tpch.disjunctive_revenue(spark, SF).collect()[0].n_lines
    from dnstap2clickhouse_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    part = load_table(spark, SF, "part")
    per = 0
    for brand, (s_lo, s_hi), (q_lo, q_hi) in tpch.DISJUNCTIVE_CLAUSES:
        per += (
            li.join(part, li.l_partkey == part.p_partkey)
            .filter(
                (F.col("p_brand") == brand)
                & F.col("p_size").between(s_lo, s_hi)
                & F.col("l_quantity").between(q_lo, q_hi)
            )
            .count()
        )
    assert total == per > 0

def test_important_parts_threshold(spark):
    """Every returned part exceeds STOCK_FACTOR x the average part value
    over the nation-filtered value table."""
    df = tpch.important_parts(spark, SF).collect()
    assert df
    vals = [r.part_value for r in df]
    # recompute the average over ALL parts of the nation (not just returned)
    from dnstap2clickhouse_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    supp = load_table(spark, SF, "supplier").filter(
        F.col("s_nationkey") == tpch.STOCK_NATION
    )
    all_vals = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.expr(tpch._DISC_E4)).alias("v"))
        .agg(F.avg("v"))
        .collect()[0][0]
    ) / 10000.0
    assert all(v > tpch.STOCK_FACTOR * all_vals * 0.999999 for v in vals)

def test_large_volume_threshold_and_order(spark):
    rows = tpch.large_volume_customers(spark, SF).collect()
    assert rows
    assert all(r.total_qty > tpch.LARGE_QTY_THRESHOLD for r in rows)
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)

def test_sales_opportunity_excludes_urgent_customers(spark):
    buckets = tpch.sales_opportunity(spark, SF).collect()
    assert buckets
    assert all(0 <= r.code_bucket < tpch.N_CODE_BUCKETS for r in buckets)
    # total cohort size matches a direct recount
    from dnstap2clickhouse_spark.sources.tables import load_table

    cust = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == tpch.IDLE_PRIORITY
    )
    avg_bal = cust.filter("c_acctbal > 0").agg(F.avg("c_acctbal")).collect()[0][0]
    direct = (
        cust.filter(F.col("c_acctbal") > avg_bal)
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .count()
    )
    assert sum(r.n_cust for r in buckets) == direct

# ------------------------------------------------------- events analytics

def test_json_props_all_parse(spark):
    rows = evan.json_props_stats(spark, SF).collect()
    assert len(rows) == len(evan.EVENT_TYPES)
    for r in rows:
        assert r.n_with_k == r.n_events  # corpus props are all well-formed
        assert r.min_k <= r.avg_k <= r.max_k

def test_json_props_null_on_corrupt(spark):
    """from_json yields NULL for corrupt payloads instead of failing."""
    df = spark.createDataFrame(
        [("ok", '{"k": 3}'), ("bad", "{not json"), ("missing", "{}")],
        "event_type string, props string",
    ).withColumn("k", F.from_json("props", "struct<k:bigint>").getField("k"))
    got = {r.event_type: r.k for r in df.collect()}
    assert got == {"ok": 3, "bad": None, "missing": None}

def test_interarrival_gaps_positive(spark):
    rows = evan.interarrival_stats(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.min_gap_us >= 0
        assert r.min_gap_us <= r.avg_gap_us <= r.max_gap_us
        assert r.total_gap_us == int(r.avg_gap_us * r.n_gaps) or abs(
            r.total_gap_us - r.avg_gap_us * r.n_gaps
        ) < 1

# ------------------------------------------------------- segment dedup

def test_segment_dedup_first_occurrence_survives(spark):
    out = ftext.segment_dedup(spark, SF)
    rows = out.collect()
    assert rows
    # global invariant: kept segments == distinct segments in the corpus
    n_kept = sum(r.n_kept for r in rows)
    from dnstap2clickhouse_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    n = ftext.SEGMENT_WORDS
    distinct_segs = (
        docs.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {n}.0) AS INT) - 1), "
                    f"i -> array_join(slice(split(text, ' '), i * {n} + 1, {n}), ' '))"
                )
            ).alias("seg")
        )
        .distinct()
        .count()
    )
    assert n_kept == distinct_segs
    # per-doc: clean_text contains exactly n_kept segments' worth of words
    for r in rows[:20]:
        assert r.n_kept <= r.n_segments
        if r.n_kept == 0:
            assert r.clean_text == ""

def test_segment_dedup_fixture_semantics(spark, tmp_path):
    """On a hand-built corpus: unique segments survive everywhere, a
    duplicated segment survives only at its first (doc_id, pos)."""
    seg_a = " ".join(f"w{i}" for i in range(ftext.SEGMENT_WORDS))  # shared
    uniq0 = " ".join(f"x{i}" for i in range(ftext.SEGMENT_WORDS))
    uniq1 = " ".join(f"y{i}" for i in range(ftext.SEGMENT_WORDS))
    docs = spark.createDataFrame(
        [(0, f"{seg_a} {uniq0}"), (1, f"{uniq1} {seg_a}")],
        "doc_id long, text string",
    )
    fixture = str(tmp_path / "fixture_sf")
    docs.repartition(1).write.parquet(fixture + "/documents.parquet")
    out = {r.doc_id: r for r in ftext.segment_dedup(spark, fixture).collect()}
    assert out[0].clean_text == f"{seg_a} {uniq0}"  # doc 0 owns seg_a
    assert out[1].clean_text == uniq1  # doc 1's copy of seg_a removed
    assert (out[0].n_segments, out[0].n_kept) == (2, 2)
    assert (out[1].n_segments, out[1].n_kept) == (2, 1)

# ------------------------------------------------------- k-means

def test_kmeans_assignment_shape(spark):
    rows = fsim.kmeans_assign(spark, SF).collect()
    from dnstap2clickhouse_spark.sources.tables import load_table

    n_vec = load_table(spark, SF, "embeddings").count()
    assert len(rows) == n_vec
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(fsim.kmeans_k(n_vec)))
    assert len(clusters) > 1  # the data isn't one blob

def test_kmeans_seeds_stay_home(spark):
    """Each seed vector must be assigned to a cluster whose iteration-1
    members include it (sanity: seeds can move clusters only if another
    centroid got closer after the update — verify assignment is at least
    a valid partition of all vectors)."""
    rows = fsim.kmeans_assign(spark, SF).collect()
    ids = sorted(r.vec_id for r in rows)
    assert ids == list(range(len(ids)))  # every vector exactly once

# ------------------------------------------------------- batch 3: cube,
# histogram, z-score, pagerank

def test_cube_summary_rollup_consistency(spark):
    """Each rollup level's totals must equal the finest level's."""
    rows = tpch.cube_summary(spark, SF).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    fine = sum(r.sum_qty for r in by_gid[0])
    assert sum(r.sum_qty for r in by_gid[1]) == fine  # rollup linestatus
    assert sum(r.sum_qty for r in by_gid[2]) == fine  # rollup returnflag
    (grand,) = by_gid[3]
    assert grand.sum_qty == fine
    assert grand.returnflag == grand.linestatus == "__ALL__"

def test_value_histogram_covers_all_events(spark):
    from dnstap2clickhouse_spark.sources.tables import load_table

    rows = evan.value_histogram(spark, SF).collect()
    n_total = load_table(spark, SF, "events").count()
    assert sum(r.n for r in rows) == n_total
    assert all(r.bucket >= 0 for r in rows)

def test_anomaly_zscore_matches_numpy(spark):
    """Outlier counts agree with a float recomputation (population var)."""
    import numpy as np

    from dnstap2clickhouse_spark.sources.tables import load_table

    got = {r.event_type: r for r in evan.anomaly_zscore(spark, SF).collect()}
    pdf = load_table(spark, SF, "events").select("event_type", "value").toPandas()
    for et, grp in pdf.groupby("event_type"):
        v = np.round(grp.value.to_numpy() * 100).astype(np.int64)
        mu, var = v.mean(), v.var()
        expect = int(((v - mu) ** 2 > evan.ZSCORE_Z2 * var).sum())
        assert got[et].n_events == len(v)
        assert got[et].n_outliers == expect


# ---------------------------------------------------- batch 4: search

def test_keyword_search_relevance(spark):
    from dnstap2clickhouse_spark.sources.tables import load_table

    rows = ftext.keyword_search(spark, SF).collect()
    assert 0 < len(rows) <= ftext.SEARCH_TOP
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in rows]))
        .collect()
    }
    # every hit contains at least one query term
    for r in rows:
        toks = set(texts[r.doc_id].split(" "))
        assert toks & set(ftext.SEARCH_TERMS)
    # the rare term dominates the ranking (idf-monotone weighting)
    assert "dup" in texts[rows[0].doc_id].split(" ")

def test_upsert_merge_op_counts(spark):
    from dnstap2clickhouse_spark.sources.tables import load_table

    rows = evan.upsert_merge(spark, SF).collect()
    n_base = load_table(spark, SF, "events").count()
    ops = {}
    for r in rows:
        ops[r.op] = ops.get(r.op, 0) + 1
    n_upd = sum(
        1
        for r in load_table(spark, SF, "events").collect()
        if r.event_id % evan.UPSERT_UPDATE_MOD == 0
    )
    n_ins = sum(
        1
        for r in load_table(spark, SF, "events").collect()
        if r.event_id % evan.UPSERT_INSERT_MOD == 0
    )
    assert ops.get("updated", 0) == n_upd
    assert ops.get("inserted", 0) == n_ins
    assert ops.get("unchanged", 0) == n_base - n_upd
    assert len(rows) == n_base + n_ins
