"""Round-4 batch-43 operators: latency heatmap, name-hierarchy rollup,
Lorenz/Gini concentration. Pins: Python replays of the heatmap grid
(from the matched-pair relation), the ROLLUP grouping-set identities
(level sums all equal the stream total; __ANY__ collapse), and the
Lorenz/Gini arithmetic — plus Gini's two boundary laws on engineered
frames (all-equal -> ~0, single-whale -> ~(n-1)/n).
"""

from __future__ import annotations

from collections import defaultdict

from dnstap2clickhouse_spark.operators import analytics as an
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ latency heatmap


def test_latency_heatmap_python_replay(spark):
    from dnstap2clickhouse_spark.operators.dns_pipeline import dns_pair_streams
    from dnstap2clickhouse_spark.operators.join import match_response_times

    q, r = dns_pair_streams(spark, SF)
    matched = match_response_times(q, r).selectExpr(
        "unix_micros(responseTime) AS t_us", "delta_us").collect()
    t0 = min(r_.t_us for r_ in matched)
    grid: dict = defaultdict(int)
    for r_ in matched:
        grid[((r_.t_us - t0) // 3_600_000_000,
              r_.delta_us // an.HEATMAP_BUCKET_US)] += 1
    got = {(r_.hour_idx, r_.delta_min): r_.n_pairs
           for r_ in an.hit_latency_heatmap(spark, SF).collect()}
    assert got == dict(grid)
    assert sum(got.values()) == len(matched)


# ------------------------------------------------ name rollup


def test_name_rollup_grouping_identities(spark):
    out = an.name_rollup(spark, SF).collect()
    total_row = [r for r in out if r.tld == "__ANY__"]
    assert len(total_row) == 1
    total = total_row[0].n_queries
    # each grain re-sums to the stream total
    tld_rows = [r for r in out if r.tld != "__ANY__" and r.sld == "__ANY__"]
    sld_rows = [r for r in out
                if r.sld != "__ANY__" and r.fqdn == "__ANY__"]
    fqdn_rows = [r for r in out if r.fqdn != "__ANY__"]
    assert sum(r.n_queries for r in tld_rows) == total
    assert sum(r.n_queries for r in sld_rows) == total
    assert sum(r.n_queries for r in fqdn_rows) == total
    # the fixture names all live under example.com.
    assert {r.tld for r in tld_rows} == {"com"}
    assert {r.sld for r in sld_rows} == {"example.com"}
    # fqdn grain matches a direct count
    from dnstap2clickhouse_spark.sources.events import dns_query_stream

    direct: dict = defaultdict(int)
    for r in dns_query_stream(spark, SF).select("questionName").collect():
        direct[r.questionName] += 1
    assert {r.fqdn: r.n_queries for r in fqdn_rows} == dict(direct)


# ------------------------------------------------ Lorenz / Gini


def test_lorenz_python_replay(spark):
    ev = load_table(spark, SF, "events").selectExpr(
        "user_id", "CAST(round(value * 100) AS BIGINT) AS cents").collect()
    per: dict = defaultdict(int)
    for r in ev:
        per[r.user_id] += r.cents
    ranked = sorted(per.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ranked)
    total = sum(v for _, v in ranked)
    weighted = sum((i + 1) * v for i, (_, v) in enumerate(ranked))
    gini = (2 * weighted - (n + 1) * total) * 1_000_000 // (n * total)
    # ntile group sizes: first n % t groups get the extra row
    t = evan.LORENZ_TILES
    sizes = [n // t + (1 if i < n % t else 0) for i in range(t)]
    out = evan.lorenz_gini(spark, SF).collect()
    idx = 0
    cum = 0
    for r, size in zip(out, sizes):
        chunk = ranked[idx: idx + size]
        idx += size
        cents = sum(v for _, v in chunk)
        cum += cents
        assert (r.n_users, r.tile_cents) == (size, cents)
        assert r.share_e6 == cents * 1_000_000 // total
        assert r.cum_share_e6 == cum * 1_000_000 // total
        assert r.gini_e6 == gini
    # Lorenz curve is monotone and ends at ~1
    assert out[-1].cum_share_e6 >= 999_999 - 10


def test_gini_boundary_laws(spark):
    ev = load_table(spark, SF, "events")

    def run(rows):
        spark.createDataFrame(
            rows,
            "event_id BIGINT, t_us BIGINT, user_id BIGINT,"
            " event_type STRING, value DOUBLE, props STRING",
        ).selectExpr(
            "event_id", "timestamp_micros(t_us) AS ts", "user_id",
            "event_type", "value", "props",
        ).createOrReplaceTempView("events")
        return spark.sql(evan.lorenz_gini_sql("spark")).collect()

    try:
        equal = run([(i, i, i % 20, "view", 5.0, "{}") for i in range(100)])
        whale = run([(i, i, i % 20, "view",
                      1000.0 if i % 20 == 0 else 0.01, "{}")
                     for i in range(100)])
    finally:
        ev.createOrReplaceTempView("events")
    assert abs(equal[0].gini_e6) < 1000            # perfect equality ~ 0
    assert whale[0].gini_e6 > 900_000              # one whale ~ (n-1)/n
