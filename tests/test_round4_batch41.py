"""Round-4 batch-41 operators: rendezvous sharding, merged source
sketches, numeric feature drift. Pins: Python replays of the HRW
argmax, the union-signature rollup (elementwise min == signature of
the unioned shingle set, checked directly), and the reference-edge
decile bucketing; the HRW minimal-movement law (every moved key landed
on the NEW shard, move fraction near 1/(S+1)); and an engineered
distribution shift the drift flag must fire on.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _h28(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


# ------------------------------------------------ rendezvous sharding


def test_rendezvous_python_replay_and_minimal_movement(spark):
    doc_ids = [r.doc_id for r in load_table(spark, SF, "documents")
               .select("doc_id").collect()]
    S = fsplit.RV_SHARDS

    def owner(d, n_shards):
        return max(range(n_shards), key=lambda s: (_h28(f"{d}@{s}"), s))

    old = {d: owner(d, S) for d in doc_ids}
    new = {d: owner(d, S + 1) for d in doc_ids}
    per_shard: dict = defaultdict(lambda: [0, 0, 0])  # n_old, n_new, moved
    for d in doc_ids:
        per_shard[old[d]][0] += 1
        per_shard[new[d]][1] += 1
        if old[d] != new[d]:
            per_shard[new[d]][2] += 1
    out = {r.shard: (r.n_keys_old, r.n_keys_new, r.n_moved,
                     r.hrw_minimal_movement)
           for r in fsplit.rendezvous_shards(spark, SF).collect()}
    for shard, (n_old, n_new, moved) in per_shard.items():
        if n_new:  # output rows exist per NEW-topology shard
            assert out[shard][:3] == (n_old, n_new, moved)
    # the law: every moved key landed on the new shard
    moved_total = sum(1 for d in doc_ids if old[d] != new[d])
    assert all(flag for *_, flag in out.values())
    assert out[S][2] == moved_total  # all movement is into shard S
    # expected move fraction ~ 1/(S+1); allow generous sampling slack
    frac = moved_total / len(doc_ids)
    assert 0.3 / (S + 1) < frac < 3.0 / (S + 1)


# ------------------------------------------------ merged source sketches


def test_source_sketch_union_property_and_replay(spark):
    """The per-source signature must EQUAL the elementwise min of its
    docs' signatures (mergeability), and the emitted estimates must
    match the agreement of those merged signatures."""
    sigs: dict = defaultdict(dict)
    for r in fdedup.minhash_signatures(spark, SF).collect():
        sigs[r.doc_id][r.hidx] = r.minhash
    src_of = {r.doc_id: r.source
              for r in load_table(spark, SF, "documents").collect()}
    merged: dict = defaultdict(lambda: defaultdict(lambda: float("inf")))
    for d, vec in sigs.items():
        for i, v in vec.items():
            s = src_of[d]
            if v < merged[s][i]:
                merged[s][i] = v
    out = fdedup.source_sketch_sim(spark, SF).collect()
    n = fdedup.N_HASHES
    srcs = sorted(merged)
    assert len(out) == len(srcs) * (len(srcs) - 1) // 2
    for r in out:
        a, b = merged[r.source_a], merged[r.source_b]
        ag = sum(a[i] == b[i] for i in range(n))
        assert r.est_e6 == ag * 1_000_000 // n
        assert r.abs_err_e6 == abs(r.est_e6 - r.exact_e6)
        assert r.within_3sigma == (r.abs_err_e6 <= fdedup.MH_TOL_E6)


# ------------------------------------------------ value drift


def test_value_drift_reference_binning(spark):
    out = evan.value_drift(spark, SF).collect()
    assert [r.bucket for r in out] == sorted(r.bucket for r in out)
    # reference-half shares must be ~10% per decile by construction
    n1 = sum(r.n_first for r in out)
    for r in out:
        assert abs(r.n_first - n1 / 10) <= max(2, n1 * 0.03)
        assert r.drift_e6 == abs(r.share_first_e6 - r.share_second_e6)
        assert r.drifted == (r.drift_e6 >= evan.VALUE_DRIFT_FLAG_E6)


def test_value_drift_fires_on_engineered_shift(spark):
    """Second half shifted +50 units: upper deciles must flag."""
    ev = load_table(spark, SF, "events")
    rows = []
    for i in range(400):
        v = float(i % 100)
        rows.append((i, i * 1_000_000, 7, "view", v, "{}"))
    for i in range(400, 800):
        v = float(i % 100) + 50.0
        rows.append((i, i * 1_000_000, 7, "view", v, "{}"))
    try:
        spark.createDataFrame(
            rows,
            "event_id BIGINT, t_us BIGINT, user_id BIGINT,"
            " event_type STRING, value DOUBLE, props STRING",
        ).selectExpr(
            "event_id", "timestamp_micros(t_us) AS ts", "user_id",
            "event_type", "value", "props",
        ).createOrReplaceTempView("events")
        shifted = spark.sql(evan.value_drift_sql("spark")).collect()
    finally:
        ev.createOrReplaceTempView("events")
    assert any(r.drifted for r in shifted)
    # mass left the low deciles and piled into the top bucket
    lo = [r for r in shifted if r.bucket == 0]
    hi = [r for r in shifted if r.bucket == max(x.bucket for x in shifted)]
    assert lo and lo[0].n_second < lo[0].n_first
    assert hi and hi[0].n_second > hi[0].n_first
