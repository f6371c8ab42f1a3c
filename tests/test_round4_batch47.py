"""Round-4 batch-47 operators: per-source dup rates, order aging,
decile migration. Pins: Python replays of all three; consistency of
the dup-rate totals with the canonical-corpus census; the aging
bucket boundary at exactly 30/90/365 days on an engineered frame; and
the migration matrix laws (row mass == from-decile population, churn
rows land in decile 0, shares sum to ~1e6 per from-decile).
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.plans import tpch
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ dup rate by source


def test_dup_rate_by_source_replay(spark):
    labels = {r.doc_id: r.cluster_id
              for r in fdedup._cc_labels(spark, SF).collect()}
    src = {r.doc_id: r.source
           for r in load_table(spark, SF, "documents").collect()}
    n: dict = defaultdict(int)
    d: dict = defaultdict(int)
    for doc, s in src.items():
        n[s] += 1
        if labels.get(doc, doc) != doc and doc in labels:
            d[s] += 1
    out = fdedup.dup_rate_by_source(spark, SF).collect()
    for r in out:
        assert r.n_docs == n[r.source]
        assert r.n_dups == d[r.source]
        assert r.dup_rate_e6 == d[r.source] * 1_000_000 // n[r.source]
    # total dups == the canonical-corpus dups-removed census
    removed = sum(r.n_dups_removed
                  for r in fdedup.canonical_corpus(spark, SF).collect())
    assert sum(r.n_dups for r in out) == removed


# ------------------------------------------------ order aging


def test_order_aging_replay_and_boundaries(spark):
    orders = load_table(spark, SF, "orders").collect()
    snap = max(r.o_orderdate for r in orders)
    grid: dict = defaultdict(lambda: [0, 0])
    e1, e2, e3 = tpch.AGING_DAYS
    for r in orders:
        if r.o_orderstatus == "F":
            continue
        days = (snap - r.o_orderdate).days
        b = (f"0-{e1}d" if days < e1 else f"{e1}-{e2}d" if days < e2
             else f"{e2}-{e3}d" if days < e3 else f"{e3}d+")
        cell = grid[(b, r.o_orderpriority)]
        cell[0] += 1
        cell[1] += round(r.o_totalprice * 100)
    got = {(r.age_bucket, r.priority): (r.n_orders, r.stuck_cents)
           for r in tpch.order_aging(spark, SF).collect()}
    assert got == {k: tuple(v) for k, v in grid.items()}


def test_order_aging_exact_edges(spark):
    od = load_table(spark, SF, "orders")
    base = datetime(2020, 1, 1)
    from datetime import timedelta
    e1, _e2, _e3 = tpch.AGING_DAYS
    rows = [
        (1, 1, "O", 10.0, base, "1-URGENT"),                        # snapshot day: 0d bucket
        (2, 1, "O", 10.0, base - timedelta(days=e1 - 1), "1-URGENT"),
        (3, 1, "O", 10.0, base - timedelta(days=e1), "1-URGENT"),   # first row of next bucket
        (4, 1, "F", 99.0, base, "1-URGENT"),                        # final: excluded
    ]
    try:
        spark.createDataFrame(
            rows,
            "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
            " o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
        ).createOrReplaceTempView("orders")
        got = {r.age_bucket: r.n_orders
               for r in spark.sql(tpch.order_aging_sql("spark")).collect()}
    finally:
        od.createOrReplaceTempView("orders")
    assert got == {f"0-{e1}d": 2, f"{e1}-{tpch.AGING_DAYS[1]}d": 1}


# ------------------------------------------------ decile migration


def test_decile_migration_matrix_laws(spark):
    out = evan.decile_migration(spark, SF).collect()
    ev = load_table(spark, SF, "events").selectExpr(
        "user_id", "unix_micros(ts) AS t_us",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
    ts = [r.t_us for r in ev]
    mid = min(ts) + (max(ts) - min(ts)) // 2
    per: dict = defaultdict(lambda: defaultdict(int))
    for r in ev:
        per[0 if r.t_us < mid else 1][r.user_id] += r.cents

    def tiles(h):
        ranked = sorted(per[h].items(), key=lambda kv: (kv[1], kv[0]))
        n, t = len(ranked), evan.MIGRATION_TILES
        sizes = [n // t + (1 if i < n % t else 0) for i in range(t)]
        out_, i = {}, 0
        for tile, size in enumerate(sizes, start=1):
            for u, _ in ranked[i: i + size]:
                out_[u] = tile
            i += size
        return out_

    t0, t1 = tiles(0), tiles(1)
    grid: dict = defaultdict(int)
    for u in set(t0) | set(t1):
        grid[(t0.get(u, 0), t1.get(u, 0))] += 1
    got = {(r.from_tile, r.to_tile): r.n_users for r in out}
    assert got == dict(grid)
    # shares sum to ~1e6 within each from-decile
    by_from: dict = defaultdict(int)
    for r in out:
        by_from[r.from_tile] += r.from_share_e6
    for s in by_from.values():
        assert 999_990 <= s + 20 and s <= 1_000_000
