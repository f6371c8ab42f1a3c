"""Round-4 batch-23 operators: seasonal backtest and keyness. Full
Python replays over the real corpus plus the defining structure of
each: the bias-variance readout of the backtest (fitted-noise seasonal
model vs global mean), and ratio ranking consistency with raw counts.
The assortativity test lives in ``test_graph.py``.
"""

from __future__ import annotations

import datetime
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _r_e6(v: float) -> int:
    return int(Decimal(v).quantize(0, ROUND_HALF_UP))


# ------------------------------------------------ seasonal baseline


def test_seasonal_baseline_python_replay(spark):
    ev = load_table(spark, SF, "events").select(
        "event_type", "ts", "value"
    ).collect()
    cut = min(r.ts for r in ev).replace(
        hour=0, minute=0, second=0, microsecond=0
    ) + datetime.timedelta(days=evan.SEAS_TRAIN_DAYS)

    train = [(r.event_type, r.ts.hour, _r_e6(r.value * 1_000_000))
             for r in ev if r.ts < cut]
    test = [(r.event_type, r.ts.hour, _r_e6(r.value * 1_000_000))
            for r in ev if r.ts >= cut]
    seas: dict = defaultdict(list)
    glob: dict = defaultdict(list)
    for t, h, v in train:
        seas[(t, h)].append(v)
        glob[t].append(v)
    f = {k: sum(v) // len(v) for k, v in seas.items()}
    g = {k: sum(v) // len(v) for k, v in glob.items()}

    err_s: dict = defaultdict(list)
    err_g: dict = defaultdict(list)
    for t, h, v in test:
        err_s[t].append(abs(v - f[(t, h)]))
        err_g[t].append(abs(v - g[t]))

    out = {r.event_type: r for r in evan.seasonal_baseline(spark, SF).collect()}
    assert set(out) == set(err_s)
    for t in err_s:
        got = out[t]
        assert got.n_test == len(err_s[t])
        assert got.mae_seasonal_e6 == sum(err_s[t]) // len(err_s[t])
        assert got.mae_global_e6 == sum(err_g[t]) // len(err_g[t])
        assert got.seasonal_wins == (sum(err_s[t]) <= sum(err_g[t]))


def test_seasonal_model_granularity(spark):
    """The two models genuinely differ (the seasonal one is fitted per
    hour), so their MAEs must differ for at least one type — the
    backtest is comparing two distinct models, not one."""
    out = evan.seasonal_baseline(spark, SF).collect()
    assert any(r.mae_seasonal_e6 != r.mae_global_e6 for r in out)


# ------------------------------------------------ keyness


def test_keyness_python_replay(spark):
    docs = load_table(spark, SF, "documents").select("text", "source").collect()
    ka: Counter = Counter()
    kb: Counter = Counter()
    for d in docs:
        grp = ka if int(d.source[3:]) < ftext.KEYNESS_SPLIT else kb
        grp.update(d.text.split(" "))
    n_a, n_b = sum(ka.values()), sum(kb.values())

    scored = []
    for tok in set(ka):
        if ka[tok] >= ftext.KEYNESS_MIN_SUP:
            r = (ka[tok] * n_b * 1000) // ((kb[tok] + 1) * n_a)
            scored.append((-r, tok, ka[tok], kb[tok]))
    scored.sort()
    expect = [(tok, a, b, -neg) for neg, tok, a, b in
              scored[: ftext.KEYNESS_TOP]]

    out = ftext.keyness(spark, SF).collect()
    assert [(r.tok, r.k_a, r.k_b, r.ratio_e3) for r in out] == expect
    ratios = [r.ratio_e3 for r in out]
    assert ratios == sorted(ratios, reverse=True)
