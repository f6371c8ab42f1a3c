"""Round-4 batch-11 operators: mergeable HLL partials, Z-order layout,
hashing-trick features. The oracle gate proves value-exactness vs
DuckDB; these tests pin what the operators MEAN — the merge identity
really holding, and a full Python replay of the Morton curve and of the
feature hashes. The stream-static join's tests live in
``test_streaming.py``.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.functions.splits import LEHMER_A, LEHMER_P
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------- HLL partials


def test_hll_partials_bounds_hold(spark):
    """Both certified properties must hold on the real corpus, and the
    day count must be the true day count."""
    out = evan.hll_partials(spark, SF).collect()
    assert out, "no groups"
    days = (
        load_table(spark, SF, "events")
        .selectExpr("event_type", "date_trunc('day', ts) AS d")
        .distinct()
        .groupBy("event_type")
        .count()
        .collect()
    )
    true_days = {r.event_type: r["count"] for r in days}
    for r in out:
        assert r.merge_exact_ok, f"{r.event_type}: union of partials != direct sketch"
        assert r.est_ok, f"{r.event_type}: estimate outside 5% of exact"
        assert r.n_days == true_days[r.event_type]


def test_hll_partition_independence(spark):
    """The merge identity is partitioning-independent: hourly partials
    union to the same estimate as daily partials (registers are
    max-of-hashes — any split reproduces the direct sketch)."""
    load_table(spark, SF, "events").createOrReplaceTempView("events")
    ests = {}
    for grain in ("day", "hour"):
        ests[grain] = {
            r.event_type: r.est
            for r in spark.sql(
                f"""
                SELECT event_type, hll_sketch_estimate(hll_union_agg(s)) AS est
                FROM (SELECT event_type, date_trunc('{grain}', ts) AS g,
                             hll_sketch_agg(user_id, {evan.HLL_PARTIAL_LGK}) AS s
                      FROM events GROUP BY event_type, date_trunc('{grain}', ts))
                GROUP BY event_type
                """
            ).collect()
        }
    assert ests["day"] == ests["hour"]


# ------------------------------------------------------ Z-order layout


def _interleave_py(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_python_replay(spark):
    """Full Python replay of the curve at sf0.001: scaled dims, Morton
    interleave, bucket grouping — the zone map must match exactly."""
    ev = load_table(spark, SF, "events").selectExpr(
        "user_id", "unix_micros(ts) AS us"
    ).collect()
    t0 = min(r.us for r in ev)
    t1 = max(r.us for r in ev)
    u_lo = min(r.user_id for r in ev)
    u_hi = max(r.user_id for r in ev)
    span_s = (t1 - t0) // 1_000_000
    top = (1 << evan.ZORDER_BITS) - 1
    zones = defaultdict(lambda: [0, 10**18, -1, 10**18, -1])
    for r in ev:
        secs = (r.us - t0) // 1_000_000
        hour_idx = secs // 3600
        u16 = (r.user_id - u_lo) * top // max(u_hi - u_lo, 1)
        h16 = secs * top // max(span_s, 1)
        zb = _interleave_py(u16, h16) >> evan.ZORDER_BUCKET_SHIFT
        z = zones[zb]
        z[0] += 1
        z[1] = min(z[1], r.user_id)
        z[2] = max(z[2], r.user_id)
        z[3] = min(z[3], hour_idx)
        z[4] = max(z[4], hour_idx)
    got = {
        r.z_bucket: [r.n_rows, r.user_lo, r.user_hi, r.hour_lo, r.hour_hi]
        for r in evan.zorder_layout(spark, SF).collect()
    }
    assert got == dict(zones)
    assert sum(v[0] for v in got.values()) == len(ev)


def test_zorder_rectangles_bound_both_dims(spark):
    """The pruning property: every z-bucket's extent in EACH dimension
    is at most ~1/8 of that dimension's domain (3 high bits fixed per
    dim at ZORDER_BUCKET_SHIFT=26) — a plain single-key sort would leave
    the trailing dimension's extent at the full domain."""
    out = evan.zorder_layout(spark, SF).collect()
    u_dom = max(r.user_hi for r in out) - min(r.user_lo for r in out)
    h_dom = max(r.hour_hi for r in out) - min(r.hour_lo for r in out)
    for r in out:
        assert r.user_hi - r.user_lo <= u_dom // 8 + 2
        assert r.hour_hi - r.hour_lo <= h_dom // 8 + 2


# --------------------------------------------------- hashed features


def test_hashed_features_python_replay(spark):
    """Exact replay: whitespace tokens, md5-28bit, Lehmer mod D."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    expect = Counter()
    for r in docs:
        for tok in r.text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:7], 16)
            bucket = (h % LEHMER_P) * LEHMER_A % LEHMER_P % ftext.HASHED_DIM
            expect[(r.doc_id, bucket)] += 1
    got = {
        (r.doc_id, r.bucket): r.n
        for r in ftext.hashed_features(spark, SF).collect()
    }
    assert got == dict(expect)
    assert all(0 <= b < ftext.HASHED_DIM for _, b in got)
