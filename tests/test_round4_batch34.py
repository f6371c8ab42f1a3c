"""Round-4 batch-34 operators: bigram LM scoring and resource-allocation
link prediction. Pins: full Python replays of the bigram conditional
model and the RA wedge sum, the no-edges-predicted invariant, and the
fluency direction of the LM score on an engineered frame (predictable
continuations outscore word salad). The streaming CDC apply's tests live
in ``test_streaming.py``.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import graph as pgraph
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ bigram LM


def _bigram_replay(texts: dict):
    bgs = {d: [f"{a} {b}" for a, b in zip(t.split(" "), t.split(" ")[1:])]
           for d, t in texts.items()}
    c2: Counter = Counter()
    c1: Counter = Counter()
    for grams in bgs.values():
        for g in grams:
            c2[g] += 1
            c1[g.split(" ")[0]] += 1
    out = {}
    for d, grams in bgs.items():
        if grams:
            s = sum(c2[g] * ftext.BIGRAM_SCALE // c1[g.split(" ")[0]]
                    for g in grams)
            out[d] = (len(grams), s // len(grams))
    return out


def test_bigram_lm_python_replay(spark):
    texts = {r.doc_id: r.text
             for r in load_table(spark, SF, "documents").collect()}
    expect = _bigram_replay(texts)
    out = {r.doc_id: (r.n_bigrams, r.mean_cond_e6)
           for r in ftext.bigram_lm(spark, SF).collect()}
    assert out == expect


def test_bigram_lm_scores_fluency_direction(spark):
    """A corpus where 'a b' always follows deterministically must
    outscore a doc of the same words in never-repeated orders."""
    docs = load_table(spark, SF, "documents")
    rows = [
        (1, "a b a b a b a b", "en", "s", 15),
        (2, "a b a b a b a b", "en", "s", 15),
        (3, "b b a a b a b b", "en", "s", 15),  # salad: mixed continuations
    ]
    try:
        spark.createDataFrame(
            rows,
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        ).createOrReplaceTempView("documents")
        got = {r.doc_id: r.mean_cond_e6
               for r in spark.sql(ftext._bigram_lm_sql("spark")).collect()}
    finally:
        docs.createOrReplaceTempView("documents")
    assert got[1] == got[2] > got[3]


# ------------------------------------------------ link prediction


def _graph_edges(spark):
    return {(r.a, r.b) for r in spark.sql(
        f"SELECT * FROM ({pgraph._copurchase_cte()}) e").collect()}


def test_link_predict_python_replay(spark):
    pgraph.link_predict(spark, SF)  # registers the lineitem view
    edges = _graph_edges(spark)
    adj: dict = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    scores = {}
    for z, nb in adj.items():
        for a in nb:
            for b in nb:
                if a < b:
                    key = (a, b)
                    n, ra = scores.get(key, (0, 0))
                    scores[key] = (n + 1, ra + 1_000_000 // len(adj[z]))
    ranked = sorted(
        ((ra, a, b, n) for (a, b), (n, ra) in scores.items()
         if n >= pgraph.LP_MIN_COMMON and (a, b) not in edges),
        key=lambda t: (-t[0], t[1], t[2]),
    )[: pgraph.LP_TOP]

    out = [(r.ra_e6, r.a, r.b, r.n_common)
           for r in pgraph.link_predict(spark, SF).collect()]
    assert out == ranked
    assert out  # the corpus graph must yield predictions


def test_link_predict_excludes_existing_edges(spark):
    pgraph.link_predict(spark, SF)
    edges = _graph_edges(spark)
    for r in pgraph.link_predict(spark, SF).collect():
        assert (r.a, r.b) not in edges and (r.b, r.a) not in edges
