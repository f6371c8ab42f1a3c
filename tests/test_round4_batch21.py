"""Round-4 batch-21 operators: snapshot-diff change capture and
collocation mining. Each pinned by a full Python replay over the real
corpus, plus the semantic edges: both CDC op kinds firing, and the
collocation lift ranking recomputed from raw counts. The BFS tests live
in ``test_graph.py``.
"""

from __future__ import annotations

from collections import Counter

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ change capture


def test_change_capture_python_replay(spark):
    ev = load_table(spark, SF, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    ).collect()
    import datetime

    max_ts = max(r.ts for r in ev)
    t1 = max_ts.replace(hour=0, minute=0, second=0, microsecond=0) - \
        datetime.timedelta(days=evan.CDC_LOOKBACK_DAYS)

    latest: dict = {}
    latest_old: dict = {}
    for r in ev:
        k = (r.user_id, r.event_type)
        o = (r.ts, r.event_id, r.value)
        if k not in latest or o[:2] > latest[k][:2]:
            latest[k] = o
        if r.ts <= t1 and (k not in latest_old or o[:2] > latest_old[k][:2]):
            latest_old[k] = o

    expect = {}
    for k, (_, _, new_v) in latest.items():
        if k not in latest_old:
            expect[k] = ("insert", None, new_v)
        elif latest_old[k][2] != new_v:
            expect[k] = ("update", latest_old[k][2], new_v)

    out = evan.change_capture(spark, SF).collect()
    got = {(r.user_id, r.event_type): (r.op, r.old_value, r.new_value) for r in out}
    assert got == expect


def test_change_capture_both_ops_fire(spark):
    ops = Counter(r.op for r in evan.change_capture(spark, SF).collect())
    assert ops["insert"] > 0 and ops["update"] > 0
    assert set(ops) == {"insert", "update"}


# ------------------------------------------------ collocations


def test_collocations_python_replay(spark):
    docs = load_table(spark, SF, "documents").select("text").collect()
    uni: Counter = Counter()
    pairs: Counter = Counter()
    total = 0
    for d in docs:
        toks = d.text.split(" ")
        uni.update(toks)
        total += len(toks)
        for i, a in enumerate(toks):
            for k in range(1, ftext.COLLOC_WINDOW + 1):
                if i + k < len(toks):
                    pairs[(a, toks[i + k])] += 1

    scored = []
    for (a, b), n_ab in pairs.items():
        if n_ab >= ftext.COLLOC_MIN_SUP:
            lift = (n_ab * total * 1_000_000) // (uni[a] * uni[b])
            scored.append((-lift, a, b, n_ab))
    scored.sort()
    expect = [(a, b, n_ab, -neg) for neg, a, b, n_ab in
              scored[: ftext.COLLOC_TOP]]

    out = ftext.collocations(spark, SF).collect()
    assert [(r.a, r.b, r.n_ab, r.lift_e6) for r in out] == expect
    # ranking is by the PMI-monotone lift, support floor respected
    assert all(r.n_ab >= ftext.COLLOC_MIN_SUP for r in out)
    lifts = [r.lift_e6 for r in out]
    assert lifts == sorted(lifts, reverse=True)
