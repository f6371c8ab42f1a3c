"""Round-4 batch-22 operators: equi-depth histogram statistics and
farthest-point (greedy k-center) seeding. Each pinned by a full Python
replay over the real corpus plus the defining invariant: depth balance,
and the non-increasing coverage-radius ladder / 2-approximation
structure. The modularity test lives in ``test_graph.py``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ equi-depth histogram


def test_equidepth_python_replay(spark):
    ev = load_table(spark, SF, "events").select("value", "event_id").collect()
    rows = sorted((r.value, r.event_id) for r in ev)
    n, k = len(rows), evan.EQD_BUCKETS
    buckets: dict = {}
    for i, (v, _) in enumerate(rows):
        buckets.setdefault(i * k // n, []).append(v)

    out = {r.bucket: r for r in evan.equidepth_histogram(spark, SF).collect()}
    assert set(out) == set(buckets) == set(range(k))
    for b, vals in buckets.items():
        assert out[b].n_rows == len(vals)
        assert out[b].lo == min(vals) and out[b].hi == max(vals)
        assert out[b].n_distinct == len(set(vals))


def test_equidepth_depth_balance_and_order(spark):
    out = sorted(evan.equidepth_histogram(spark, SF).collect(),
                 key=lambda r: r.bucket)
    sizes = [r.n_rows for r in out]
    assert max(sizes) - min(sizes) <= 1  # equi-depth by construction
    for a, b in zip(out, out[1:]):
        assert a.hi <= b.lo  # buckets tile the sorted domain


# ------------------------------------------------ farthest-point init


def test_farthest_init_python_replay(spark):
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    q = {r.vec_id: [int(Decimal(float(x) * fsim._E9).quantize(0, ROUND_HALF_UP))
                    for x in r.embedding] for r in emb}

    def d(u, v):
        acc = 0.0
        for a, b in zip(q[u], q[v]):
            acc += float(a - b) * float(a - b)
        return acc

    centers = [0]
    ladder = [0]
    for _ in range(1, fsim.FPS_K):
        md = {v: min(d(v, c) for c in centers) for v in q}
        pick = min(md, key=lambda v: (-md[v], v))
        centers.append(pick)
        ladder.append(int(Decimal(md[pick] / 1e12).quantize(0, ROUND_HALF_UP)))

    out = sorted(fsim.farthest_init(spark, SF).collect(), key=lambda r: r.sel)
    assert [r.cid for r in out] == centers
    assert [r.radius_e6 for r in out] == ladder
    # the k-center ladder is non-increasing after the seed row
    radii = [r.radius_e6 for r in out[1:]]
    assert radii == sorted(radii, reverse=True)
