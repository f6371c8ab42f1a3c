"""Round-4 batch-42 operators: hard-negative mining, tokenizer
fertility. Pins: the cross-label invariant + hardest-negative replay,
and the fertility identities (per-source ratios + corpus rollup). The
tombstone CDC apply's tests live in ``test_streaming.py``.
"""

from __future__ import annotations

from collections import defaultdict

from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ hard negatives


def test_hard_negatives_cross_label_and_replay(spark):
    out = fsim.hard_negatives(spark, SF).collect()
    for r in out:
        assert r.anchor_label != r.negative_label
    # replay: within each k-means cell, the top different-label cosine
    cells = {r.vec_id: r.cluster
             for r in spark.sql(fsim.kmeans_assign_sql("spark")).collect()}
    embs = {r.vec_id: (r.embedding, r.label)
            for r in load_table(spark, SF, "embeddings").collect()}

    def cos(a, b):
        ea, eb = embs[a][0], embs[b][0]
        d = sum(x * y for x, y in zip(ea, eb))
        na = sum(x * x for x in ea)
        nb = sum(x * x for x in eb)
        return d / (na * nb) ** 0.5

    by_anchor: dict = defaultdict(list)
    for r in out:
        by_anchor[r.anchor].append((r.rank, r.negative, r.cosine))
    import random
    random.seed(7)
    sample = random.sample(sorted(by_anchor), 25)
    for a in sample:
        cands = [(v, cos(a, v)) for v in embs
                 if v != a and cells[v] == cells[a]
                 and embs[v][1] != embs[a][1]]
        cands.sort(key=lambda t: (-t[1], t[0]))
        expect = [v for v, _ in cands[: fsim.HARDNEG_K]]
        got = [v for _, v, _ in sorted(by_anchor[a])]
        assert got == expect


# ------------------------------------------------ fertility


def test_fertility_identities(spark):
    out = ftext.tokenizer_fertility(spark, SF).collect()
    tot_w = sum(r.n_words for r in out)
    tot_b = sum(r.n_bpe for r in out)
    for r in out:
        assert r.fertility_e6 == r.n_bpe * 1_000_000 // r.n_words
        assert r.corpus_fertility_e6 == tot_b * 1_000_000 // tot_w
        assert r.n_bpe >= r.n_words  # pre-tokenization only ever splits
    assert sum(r.n_docs for r in out) == 500
