"""Round-4 batch-40 operators: qtype mix drift, NN-Descent refinement,
decontamination certificate. Pins: Python replays of the half-split
shares/TVD and the certificate invariants; an engineered drifting
stream the flag must fire on (and a stationary one it must not); and
the NN-Descent dominance property — the refined neighborhood's cosines
are pointwise >= the bootstrap's at every rank (gossip can only
improve a max), with recovered cross-cell edges marked is_new.
"""

from __future__ import annotations

from collections import defaultdict

from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.operators import analytics as an
from dnstap2clickhouse_spark.plans import curation as pcur
from dnstap2clickhouse_spark.sources.events import dns_query_stream
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ traffic drift


def test_traffic_drift_python_replay(spark):
    rows = dns_query_stream(spark, SF).select(
        "questionType", "queryTime").collect()
    ts = sorted(int(r.queryTime.timestamp() * 1_000_000) for r in rows)
    mid = ts[0] + (ts[-1] - ts[0]) // 2
    first: dict = defaultdict(int)
    second: dict = defaultdict(int)
    for r in rows:
        t = int(r.queryTime.timestamp() * 1_000_000)
        (first if t < mid else second)[r.questionType] += 1
    n1, n2 = sum(first.values()), sum(second.values())
    expect = {}
    for qt in set(first) | set(second):
        s1 = first[qt] * 1_000_000 // n1
        s2 = second[qt] * 1_000_000 // n2
        expect[qt] = (first[qt], second[qt], s1, s2, abs(s1 - s2),
                      abs(s1 - s2) >= an.DRIFT_FLAG_E6)
    got = {r.questionType: (r.n_first, r.n_second, r.share_first_e6,
                            r.share_second_e6, r.drift_e6, r.drifted)
           for r in an.traffic_drift(spark, SF).collect()}
    assert got == expect


def test_traffic_drift_fires_on_engineered_shift(spark):
    """A stream whose TXT share jumps from 10% to 60% must flag TXT
    (and A, which absorbs the complement); a stationary stream must
    flag nothing."""
    def mk(rows):
        spark.createDataFrame(
            rows, "questionType STRING, t_us BIGINT"
        ).selectExpr(
            "questionType", "timestamp_micros(t_us) AS queryTime"
        ).createOrReplaceTempView("drift_fixture")
        return {r.questionType: r.drifted for r in spark.sql(
            an._traffic_drift_body("SELECT * FROM drift_fixture", "spark")
        ).collect()}

    shifted = [("TXT" if i % 10 == 0 else "A", i) for i in range(100)]
    shifted += [("TXT" if i % 10 < 6 else "A", 1000 + i) for i in range(100)]
    got = mk(shifted)
    assert got["TXT"] and got["A"]

    flat = [("TXT" if i % 10 == 0 else "A", i) for i in range(200)]
    assert not any(mk(flat).values())


# ------------------------------------------------ NN-Descent round


def test_nn_descent_improves_recall_over_random_init(spark):
    """One gossip round over the random init must (a) pointwise
    dominate the init neighborhoods (the candidate set is a superset),
    (b) recover real edges (is_new > 0), and (c) strictly improve
    recall@k against the exact brute-force kNN computed in Python."""
    embs = {r.vec_id: r.embedding for r in
            load_table(spark, SF, "embeddings").collect()}
    out = fsim.nn_descent_round(spark, SF).collect()
    # replay the deterministic init to get its cosine per (src, rank)
    import hashlib

    def h28(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)

    def cos(a, b):
        da = sum(x * y for x, y in zip(embs[a], embs[b]))
        na = sum(x * x for x in embs[a])
        nb = sum(x * x for x in embs[b])
        return da / (na * nb) ** 0.5

    n = len(embs)
    init_edges = set()
    for src in embs:
        for j in range(1, fsim.KNN_K + 1):
            dst = (src + 1 + h28(f"{src}:{j}") % (n - 1)) % n
            init_edges.add((src, dst))
    for r in out:
        assert r.is_new == ((r.src, r.dst) not in init_edges)
    assert any(r.is_new for r in out)
    # pointwise dominance per (src, rank) vs the ranked init
    init_ranked = {}
    by_src: dict = defaultdict(list)
    for s, d in init_edges:
        by_src[s].append((-cos(s, d), d))
    for s, lst in by_src.items():
        for rk, (negc, d) in enumerate(sorted(lst), start=1):
            init_ranked[(s, rk)] = -negc
    for r in out:
        if (r.src, r.rank) in init_ranked:
            assert r.cosine >= init_ranked[(r.src, r.rank)] - 1e-12
    # recall@k vs exact brute force strictly improves
    exact = {}
    for s in embs:
        top = sorted(((-cos(s, d), d) for d in embs if d != s))[: fsim.KNN_K]
        exact[s] = {d for _, d in top}
    got_sets: dict = defaultdict(set)
    for r in out:
        got_sets[r.src].add(r.dst)
    rec_init = sum(len({d for s2, d in init_edges if s2 == s} & exact[s])
                   for s in embs)
    rec_ref = sum(len(got_sets[s] & exact[s]) for s in embs)
    assert rec_ref > rec_init


# ------------------------------------------------ certificate


def test_decontam_certificate_clean_and_complete(spark):
    out = pcur.decontam_certificate(spark, SF).collect()
    assert {r.split for r in out} <= {"train", "val", "test"}
    assert len(out) >= 2
    for r in out:
        assert r.n_contaminated == 0 and r.decontaminated
    # doc counts must agree with the v2 corpus itself
    v2 = pcur.curate_corpus_v2(spark, SF).collect()
    per_split: dict = defaultdict(int)
    for r in v2:
        per_split[r.split] += 1
    assert {r.split: r.n_docs for r in out} == dict(per_split)
