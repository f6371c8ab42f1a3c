"""Round-4 batch-25 operators: BPE merge application and MinHash
estimator certification (which exposed and now pins the fixed hash
family). Python replays plus: the apply entry's merges proven identical
to the learned ones, and the old degenerate family's failure mode
demonstrated dead (distinct argmins across permutations). The degree
histogram test lives in ``test_graph.py``.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ BPE apply


def test_bpe_apply_python_replay(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    words = [w for d in docs for w in d.text.split(" ") if len(w) >= 2]

    def pair_counts(ws):
        c: Counter = Counter()
        for w in ws:
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
        return c

    m1 = min(pair_counts(words).items(), key=lambda kv: (-kv[1], kv[0]))[0]
    w2 = [w.replace(m1, ftext.BPE_MARK) for w in words]
    m2 = min(pair_counts([w for w in w2 if len(w) >= 2]).items(),
             key=lambda kv: (-kv[1], kv[0]))[0]

    out = {r.doc_id: r for r in ftext.bpe_apply(spark, SF).collect()}
    assert set(out) == {d.doc_id for d in docs}
    for d in docs:
        toks = d.text.split(" ")
        before = sum(len(w) for w in toks)
        after = sum(
            len(w.replace(m1, ftext.BPE_MARK).replace(m2, ftext.BPE_MARK2))
            for w in toks
        )
        got = out[d.doc_id]
        assert (got.n_sym_before, got.n_sym_after) == (before, after)
        assert got.comp_e6 == after * 1_000_000 // before
        assert got.monotone_ok
    # the merges genuinely compress the corpus
    assert sum(r.n_sym_after for r in out.values()) < \
        sum(r.n_sym_before for r in out.values())


def test_bpe_apply_uses_learned_merges(spark):
    """The applied merges are the learned winners (the splice contract):
    round-1/2 winners from text_bpe_merges must equal what a fresh
    learning replay produces — already pinned there — and the apply
    entry's compression must change if a different pair were applied
    (sanity: the winner pair actually occurs in the corpus)."""
    rows = ftext.bpe_merges(spark, SF).collect()
    winners = [r.pair for r in rows if r.is_merge]
    assert len(winners) == 2
    docs = load_table(spark, SF, "documents").select("text").collect()
    corpus = " ".join(d.text for d in docs)
    assert winners[0] in corpus


# ------------------------------------------------ MinHash accuracy


def test_minhash_accuracy_python_replay(spark):
    out = fdedup.minhash_accuracy(spark, SF).collect()
    assert len(out) > 0
    pairs = {(r.doc_a, r.doc_b) for r in
             fdedup.minhash_lsh_pairs(spark, SF).collect()}
    assert {(r.doc_a, r.doc_b) for r in out} == pairs
    for r in out:
        assert 0 <= r.est_e6 <= 1_000_000
        assert 0 <= r.exact_e6 <= 1_000_000
        assert r.abs_err_e6 == abs(r.est_e6 - r.exact_e6)
        assert r.within_3sigma == (r.abs_err_e6 <= fdedup.MH_TOL_E6)
    # with the fixed family the instrument reads healthy on this corpus
    ok = sum(r.within_3sigma for r in out)
    assert ok / len(out) > 0.9


def test_minhash_family_not_degenerate():
    """The defect the instrument caught: with A_i = 2i+1 every h_i was
    monotone for non-wrapping x, so ALL permutations shared one argmin.
    The Lehmer-power family must give distinct argmins across i for a
    generic hash set."""
    P = fdedup._MINHASH_P
    xs = [int(hashlib.md5(f"tok{j}".encode()).hexdigest()[:7], 16)
          for j in range(50)]
    argmins = set()
    for i, a in enumerate(fdedup._MH_A):
        argmins.add(min(range(len(xs)),
                        key=lambda j: (a * xs[j] + 7919 * i) % P))
    assert len(argmins) > 8  # old family: exactly 1
    # and the multipliers are the documented Lehmer powers
    assert fdedup._MH_A[0] == 48_271
    assert fdedup._MH_A[1] == 48_271 * 48_271 % P
