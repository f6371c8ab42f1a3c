"""Round-4 batch-44 operators: uncertainty sampling and temperature
mixture (the butterfly census test lives in ``test_graph.py``). Pins:
Python replays of the margin selection and the sqrt-flattened shares;
the uncertainty-sample law (selected margins are a prefix of the global
margin order, both keep-sides represented when available); and the
temperature law (upsample factor decreases as source size grows).
"""

from __future__ import annotations

from collections import defaultdict

from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import curation as pcur
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ uncertainty sampling


def test_uncertainty_sample_is_margin_prefix(spark):
    logits = {r.doc_id: r.logit_e6
              for r in ftext.quality_logit(spark, SF).collect()}
    margins = sorted((abs(v - ftext.LOGIT_KEEP_E6), d)
                     for d, v in logits.items())
    expect = [(i + 1, d, logits[d], m)
              for i, (m, d) in enumerate(margins[: fsplit.UNCERTAIN_K])]
    got = [(r.rank, r.doc_id, r.logit_e6, r.margin_e6)
           for r in fsplit.uncertainty_sample(spark, SF).collect()]
    assert got == expect
    # keep flag rides through consistently
    for r in fsplit.uncertainty_sample(spark, SF).collect():
        assert r.keep == (r.logit_e6 >= ftext.LOGIT_KEEP_E6)


# ------------------------------------------------ temperature mixture


def test_mixture_temperature_replay_and_flattening(spark):
    import math

    docs = load_table(spark, SF, "documents").select("source").collect()
    counts: dict = defaultdict(int)
    for r in docs:
        counts[r.source] += 1
    tot_n = sum(counts.values())
    tot_w = sum(math.isqrt(n) for n in counts.values())
    out = pcur.mixture_temperature(spark, SF).collect()
    ups = {}
    for r in out:
        n, w = counts[r.source], math.isqrt(counts[r.source])
        assert (r.n_docs, r.weight) == (n, w)
        assert r.prop_share_e6 == n * 1_000_000 // tot_n
        assert r.temp_share_e6 == w * 1_000_000 // tot_w
        assert r.upsample_e6 == r.temp_share_e6 * 1_000_000 // r.prop_share_e6
        ups[r.source] = (n, r.upsample_e6)
    # the law: a strictly smaller source never gets a smaller upsample
    pairs = sorted(ups.values())
    for (n1, u1), (n2, u2) in zip(pairs, pairs[1:]):
        if n1 < n2:
            assert u1 >= u2
