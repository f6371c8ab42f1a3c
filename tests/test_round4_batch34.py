"""Round-4 batch-34 operators: bigram LM scoring. Pins: a full Python
replay of the bigram conditional model, and the fluency direction of
the LM score on an engineered frame (predictable continuations
outscore word salad). The streaming CDC apply's tests live in
``test_streaming.py``, the link-prediction tests in ``test_graph.py``.
"""

from __future__ import annotations

from collections import Counter

from dnstap2clickhouse_spark.functions import text as ftext
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
               for r in spark.sql(ftext.bigram_lm_sql("spark")).collect()}
    finally:
        docs.createOrReplaceTempView("documents")
    assert got[1] == got[2] > got[3]
