"""Round-4 batch-27 operators: IVF nprobe curve, cluster-size stats,
and the purged temporal split. Pins: curve consistency with the
standalone IVF recall entry at the production nprobe, cluster bins
replaying from the CC labels, and the embargo's real-time gap.
"""

from __future__ import annotations

import datetime
from collections import Counter

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ nprobe sweep


def test_nprobe_sweep_consistent_with_ivf_recall(spark):
    sweep = {r.nprobe: r for r in fsim.nprobe_sweep(spark, SF).collect()}
    assert set(sweep) == set(fsim.NPROBE_LADDER)
    # at the production nprobe the curve equals the standalone entry
    rec = fsim.ivf_recall(spark, SF).collect()
    hits = sum(r.n_hits for r in rec)
    assert sweep[fsim.IVF_NPROBE].n_hits == hits
    # the curve is monotone and certified
    counts = [sweep[np].n_hits for np in sorted(sweep)]
    assert counts == sorted(counts)
    assert all(r.monotone_ok for r in sweep.values())
    for r in sweep.values():
        assert r.recall_e6 == r.n_hits * 1_000_000 // (
            fsim.N_QUERIES * fsim.TOP_K
        )


def test_nprobe_max_probe_widens_candidates(spark):
    """The top ladder point must strictly beat the bottom on this
    corpus — otherwise the sweep isn't measuring anything."""
    sweep = {r.nprobe: r.n_hits for r in fsim.nprobe_sweep(spark, SF).collect()}
    lo, hi = min(sweep), max(sweep)
    assert sweep[hi] > sweep[lo]


# ------------------------------------------------ cluster stats


def test_cluster_stats_python_replay(spark):
    cc = [r.cluster_id for r in fdedup.cc_clusters(spark, SF).collect()]
    sizes = Counter(Counter(cc).values())  # size -> n_clusters
    expect: dict = {}
    for size, n_clusters in sizes.items():
        for i, (lo, hi) in enumerate(fdedup.CLUSTER_BINS):
            if lo <= size <= hi:
                e = expect.setdefault(i, [0, 0, 0])
                e[0] += n_clusters
                e[1] += n_clusters * size
                e[2] = max(e[2], size)
    mx = max(Counter(cc).values())

    out = {r.size_bin: r for r in fdedup.cluster_stats(spark, SF).collect()}
    assert set(out) == set(expect)
    for b, (n_cl, n_docs, b_max) in expect.items():
        got = out[b]
        assert (got.n_clusters, got.n_docs, got.bin_max_size) == \
            (n_cl, n_docs, b_max)
        assert got.max_cluster == mx
    # mass identity: binned docs cover the whole corpus
    assert sum(r.n_docs for r in out.values()) == len(cc)


# ------------------------------------------------ temporal embargo


def test_temporal_embargo_python_replay(spark):
    ev = load_table(spark, SF, "events").select("ts").collect()
    mx = max(r.ts for r in ev)
    day0 = mx.replace(hour=0, minute=0, second=0, microsecond=0)
    test_start = day0 - datetime.timedelta(days=fsplit.EMB_TEST_DAYS)
    train_end = day0 - datetime.timedelta(
        days=fsplit.EMB_TEST_DAYS + fsplit.EMB_GAP_DAYS
    )
    split: Counter = Counter()
    bounds: dict = {}
    for r in ev:
        s = ("test" if r.ts >= test_start
             else "train" if r.ts < train_end else "embargo")
        split[s] += 1
        us = int(r.ts.timestamp() * 1_000_000)
        lo, hi = bounds.get(s, (us, us))
        bounds[s] = (min(lo, us), max(hi, us))

    out = {r.split: r for r in fsplit.temporal_embargo(spark, SF).collect()}
    assert set(out) == set(split)
    for s in split:
        assert out[s].n == split[s]
        assert (out[s].min_us, out[s].max_us) == bounds[s]
    gap = bounds["test"][0] - bounds["train"][1]
    expect_ok = gap >= fsplit.EMB_GAP_DAYS * 86_400_000_000
    assert all(r.gap_ok == expect_ok for r in out.values())
    assert expect_ok  # the purge genuinely holds on this corpus
    # every split is non-empty — the cuts bind
    assert all(split[s] > 0 for s in ("train", "embargo", "test"))
