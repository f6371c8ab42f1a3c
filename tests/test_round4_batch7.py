"""Round-4 batch-7 operators: time-series gap fill, prefix-filtered
containment dedup, and MMR diversity re-ranking. The oracle gate proves
value-exactness vs DuckDB; these tests pin what the operators MEAN —
the zero-fill spine invariants, the prefix filter's completeness
theorem against an all-pairs Python recomputation (including the
asymmetric case Jaccard misses), and a numpy replay of the greedy MMR
loop. The triangle census and neighbor-Jaccard tests live in
``test_graph.py``.
"""

from __future__ import annotations

import itertools

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- gap fill


def test_gap_fill_spine_and_mass(spark):
    """Dense grid: every (type, hour-in-span) exactly once; counts
    preserve total event mass; gaps are explicit zeros."""
    out = evan.gap_fill(spark, SF).collect()
    ev = load_table(spark, SF, "events")
    total = ev.count()
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    hours = {(r.event_type, r.hour) for r in out}
    assert len(out) == len(hours), "duplicate grid cells"
    per_type = {t: sum(1 for r in out if r.event_type == t) for t in types}
    assert len(set(per_type.values())) == 1, "unequal spine per type"
    assert sum(r.n_events for r in out) == total
    assert any(r.n_events == 0 for r in out), "corpus has no gaps to fill"


def test_gap_fill_injected_gap(spark):
    """A fixture with one silent hour must emit that hour with n=0."""
    rows = [
        (1, "2024-01-01 00:10:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 02:20:00", 1, "click", 1.0, "{}"),  # 01:00 silent
    ]
    orig = load_table(spark, SF, "events")
    try:
        spark.createDataFrame(
            rows,
            "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value", "props"
        ).createOrReplaceTempView("events")
        out = {str(r.hour): r.n_events for r in spark.sql(evan._gap_fill_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("events")
    assert out == {
        "2024-01-01 00:00:00": 1,
        "2024-01-01 01:00:00": 0,
        "2024-01-01 02:00:00": 1,
    }


# -------------------------------------------------- containment (prefix)


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) < fdedup.SHINGLE_K:
        return set(toks)
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_containment_matches_allpairs_python(spark):
    """Prefix-filter completeness theorem, checked end-to-end: the
    candidate-pruned output equals an ALL-PAIRS Python recomputation of
    directed containment on the real corpus."""
    got = {
        (r.doc_a, r.doc_b): r.cont_e6
        for r in fdedup.containment_pairs(spark, SF).collect()
    }
    docs = {
        r.doc_id: _shingles(r.text)
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    want = {}
    for a, b in itertools.permutations(docs, 2):
        sa, sb = docs[a], docs[b]
        if not sa:
            continue
        cont = len(sa & sb) * 1_000_000 // len(sa)
        if cont >= fdedup.CONT_TAU_E6:
            want[(a, b)] = cont
    assert got == want
    assert want, "corpus has no containment pairs to certify"


def test_containment_catches_asymmetric_pair_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment ~1, Jaccard far
    below the near-dup threshold — the asymmetric case this operator
    exists for. The directed pair (short in long) must be found; the
    reverse direction must not."""
    long_words = " ".join(f"w{i}" for i in range(60))
    short_words = " ".join(f"w{i}" for i in range(10, 20))  # contiguous quote
    rows = [
        (1, long_words, "en", "s", len(long_words)),
        (2, short_words, "en", "s", len(short_words)),
        (3, "completely different text here now", "en", "s", 34),
    ]
    sa, sb = _shingles(short_words), _shingles(long_words)
    jac = len(sa & sb) / len(sa | sb)
    assert jac < fdedup.JACCARD_THRESHOLD  # LSH-Jaccard would miss it
    orig = load_table(spark, SF, "documents")
    try:
        spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).createOrReplaceTempView("documents")
        got = {(r.doc_a, r.doc_b) for r in spark.sql(fdedup._containment_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    assert (2, 1) in got
    assert (1, 2) not in got


# ------------------------------------------------------------ MMR rerank


def test_mmr_matches_numpy_greedy(spark):
    """The unrolled CTE loop equals a literal numpy replay of greedy MMR
    over the same pool (argmax 0.5*rel - 0.5*max_sim, id tiebreak)."""
    import numpy as np

    got = [
        (r.query_id, r.pos, r.neighbor_id)
        for r in fsim.mmr_rerank(spark, SF).collect()
    ]
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").collect()
    }

    def cos(a: int, b: int) -> float:
        return float(emb[a] @ emb[b] / np.sqrt((emb[a] @ emb[a]) * (emb[b] @ emb[b])))

    want = []
    for q in range(fsim.N_QUERIES):
        rel = {c: cos(q, c) for c in emb if c != q}
        pool = sorted(rel, key=lambda c: (-rel[c], c))[: fsim.MMR_POOL]
        selected: list[int] = []
        for pos in range(1, fsim.MMR_K + 1):
            remaining = [c for c in pool if c not in selected]
            if selected:
                score = {
                    c: 0.5 * rel[c] - 0.5 * max(cos(c, s) for s in selected)
                    for c in remaining
                }
            else:
                score = {c: rel[c] for c in remaining}
            pick = min(remaining, key=lambda c: (-score[c], c))
            selected.append(pick)
            want.append((q, pos, pick))
    assert got == want


def test_mmr_first_pick_is_top1_and_diverse(spark):
    """pos=1 equals brute-force rank-1; selections are distinct; exactly
    MMR_K rows per query."""
    mmr = fsim.mmr_rerank(spark, SF).collect()
    top1 = {
        r.query_id: r.neighbor_id
        for r in fsim.cosine_topk(spark, SF).collect()
        if r.rank == 1
    }
    per_q: dict[int, list[int]] = {}
    for r in mmr:
        per_q.setdefault(r.query_id, []).append(r.neighbor_id)
        if r.pos == 1:
            assert r.neighbor_id == top1[r.query_id]
    for q, picks in per_q.items():
        assert len(picks) == fsim.MMR_K == len(set(picks))


# --------------------------------------------------------- caption pairs


def test_caption_pairs_gates(spark):
    """Only image-mime rows survive; each gate (caption length, aspect,
    alignment) independently drops an injected violating row; a
    passing row is kept with exact scaled-integer fields."""
    from dnstap2clickhouse_spark.functions import multimodal as fmm

    good_text = " ".join(f"w{i}" for i in range(20))
    rows = [
        # doc_id % 3 == 0 -> image mime; 36/300 give width=height+? gates ok
        (36, good_text, "en", "s", 1),          # keeper (if align passes)
        (39, "short text", "en", "s", 1),       # caption too short
        (37, good_text, "en", "s", 1),          # audio mime -> excluded
    ]
    orig = load_table(spark, SF, "documents")
    try:
        spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).createOrReplaceTempView("documents")
        got = {r.doc_id: r for r in fmm._caption_pairs_df(spark).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    assert 39 not in got  # caption gate
    assert 37 not in got  # mime gate
    import hashlib

    first_byte = int(hashlib.md5(good_text.encode()).hexdigest()[:2], 16)
    align = first_byte * 1_000_000 // 255
    if align >= fmm.ALIGN_MIN_E6:
        r = got[36]
        assert (r.width, r.height) == (64 + 36 % 512, 64 + 36 % 384)
        assert r.align_e6 == align
        assert r.n_tokens == 20
    else:
        assert 36 not in got


def test_caption_pairs_image_only_on_corpus(spark):
    """Every emitted doc_id is an image row and passes every gate."""
    from dnstap2clickhouse_spark.functions import multimodal as fmm

    out = fmm.caption_pairs(spark, SF).collect()
    assert out, "no pairs survived on the smoke corpus"
    for r in out:
        assert r.doc_id % 3 == 0
        assert fmm.CAPTION_MIN_TOKENS <= r.n_tokens <= fmm.CAPTION_MAX_TOKENS
        assert fmm.ASPECT_MIN_E3 <= r.aspect_e3 <= fmm.ASPECT_MAX_E3
        assert r.pixels >= fmm.MIN_PIXELS and r.align_e6 >= fmm.ALIGN_MIN_E6


# -------------------------------------------------- batch 8: code gate


def test_code_detect_fixture(spark):
    """An obvious code doc trips the gate; plain prose does not; the
    keyword-corroboration path fires at the lower symbol bar."""
    from dnstap2clickhouse_spark.functions import text as ftext

    code = "def f(x): return g(x[0]); # comment {y: z} import os < > = =="
    prose = "the quick brown fox jumps over the lazy dog again and again"
    kw_code = "import os return x " + "word " * 28 + "(a) = b;"
    rows = [
        (1, code, "en", "s", len(code)),
        (2, prose, "en", "s", len(prose)),
        (3, kw_code, "en", "s", len(kw_code)),
    ]
    orig = load_table(spark, SF, "documents")
    try:
        spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).createOrReplaceTempView("documents")
        got = {r.doc_id: r for r in spark.sql(ftext._code_detect_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    assert got[1].is_code
    assert not got[2].is_code and got[2].n_sym == 0
    # keyword path: symbols below the hard bar, >=2 keywords
    assert got[3].kw_hits >= ftext.CODE_KW_MIN
    assert got[3].sym_e6 < ftext.CODE_SYM_E6
    assert got[3].is_code == (got[3].sym_e6 >= ftext.CODE_KW_SYM_E6)


def test_code_detect_corpus_all_prose(spark):
    """The synthetic corpus is prose: zero code verdicts, and features
    match a direct Python recount on a sample."""
    from dnstap2clickhouse_spark.functions import text as ftext

    out = ftext.code_detect(spark, SF).collect()
    assert len(out) == 500 and not any(r.is_code for r in out)
    docs = {r.doc_id: r.text for r in load_table(spark, SF, "documents").limit(20).collect()}
    for r in out[:20]:
        if r.doc_id in docs:
            t = docs[r.doc_id]
            assert r.n_chars == len(t)
            assert r.n_sym == sum(1 for ch in t if ch in ftext.CODE_SYMBOLS)


# ------------------------------------------------ batch 8: dataset card


def test_dataset_card_counts(spark):
    """Card fields equal direct recomputation; injected exact dup (word
    shuffle) moves the dup counters."""
    from dnstap2clickhouse_spark.plans import curation as pcur

    card = pcur.dataset_card(spark, SF).collect()[0]
    docs = load_table(spark, SF, "documents").collect()
    toks = [len(d.text.split(" ")) for d in docs]
    assert card.n_docs == len(docs)
    assert card.total_tokens == sum(toks)
    assert card.n_langs == len({d.lang for d in docs})
    assert card.n_sources == len({d.source for d in docs})
    bags = {" ".join(sorted(d.text.split(" "))) for d in docs}
    assert card.n_exact_dups == len(docs) - len(bags)
    assert card.mean_tokens_e6 == sum(toks) * 1_000_000 // len(docs)

    rows = [
        (1, "alpha beta gamma", "en", "s", 16),
        (2, "gamma beta alpha", "en", "s", 16),  # bag-identical
        (3, "fully different words", "fr", "t", 21),
    ]
    orig = load_table(spark, SF, "documents")
    try:
        spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).createOrReplaceTempView("documents")
        c2 = spark.sql(pcur._dataset_card_sql("spark")).collect()[0]
    finally:
        orig.createOrReplaceTempView("documents")
    assert (c2.n_docs, c2.n_exact_dups, c2.n_langs, c2.n_sources) == (3, 1, 2, 2)
    assert c2.dup_rate_e6 == 1_000_000 // 3


# ------------------------------------------- batch 10: token budget


def test_token_budget_matches_python_replay(spark):
    """Selection equals a full Python replay: per source, docs in
    (lehmer(doc_id), doc_id) order kept while the running token total
    stays within the budget — and the first excluded doc would cross."""
    from dnstap2clickhouse_spark.functions import splits as fsplit

    out = fsplit.token_budget_sample(spark, SF).collect()
    docs = load_table(spark, SF, "documents").select("doc_id", "source", "text").collect()
    by_source: dict[str, list] = {}
    for d in docs:
        h = ((d.doc_id % fsplit.LEHMER_P) * fsplit.LEHMER_A) % fsplit.LEHMER_P
        by_source.setdefault(d.source, []).append((h, d.doc_id, len(d.text.split(" "))))
    want = {}
    for src, rows in by_source.items():
        rows.sort()
        running = 0
        crossed = False
        for h, doc_id, n in rows:
            if running + n <= fsplit.TOKEN_BUDGET and not crossed:
                running += n
                want[doc_id] = (src, n, running)
            else:
                # strict rule: once a doc crosses, IT and everything
                # after it in hash order is dropped (running is a
                # prefix sum, not best-fit packing)
                crossed = True
    got = {r.doc_id: (r.source, r.n_tokens, r.running) for r in out}
    assert got == want
    assert all(v[2] <= fsplit.TOKEN_BUDGET for v in got.values())
    assert got, "budget kept nothing"


# --------------------------------------- batch 10: path transitions


def test_path_transitions_matches_python(spark):
    """Top-k (from, to) pairs equal a Python lag-replay with the same
    count/tiebreak ordering, and shares are the exact integer rational."""
    from dnstap2clickhouse_spark.plans import events_analytics as evan

    out = [(r.from_type, r.to_type, r.n, r.share_e6)
           for r in evan.path_transitions(spark, SF).collect()]
    ev = load_table(spark, SF, "events").select("user_id", "ts", "event_id", "event_type").collect()
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append((e.ts, e.event_id, e.event_type))
    pairs: dict[tuple, int] = {}
    for rows in by_user.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    total = sum(pairs.values())
    ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    want = [(f, t, n, n * 1_000_000 // total) for (f, t), n in ranked[: evan.PATH_TOP]]
    assert out == want


# --------------------------------------- batch 10: grouped-map minmax


def test_label_minmax_matches_python(spark):
    """The applyInPandas grouped-map scaling equals an exact Python
    integer replay; per label, min maps to 0 and max to 1e6."""
    out = {r.vec_id: r for r in fsim.label_minmax(spark, SF).collect()}
    emb = load_table(spark, SF, "embeddings").collect()
    scores: dict[int, int] = {}
    by_label: dict[int, list[int]] = {}
    for r in emb:
        s = sum(int(round(float(x) * 1_000_000_000)) for x in r.embedding)
        scores[r.vec_id] = s
        by_label.setdefault(r.label, []).append(s)
    for r in emb:
        got = out[r.vec_id]
        assert got.score_e9 == scores[r.vec_id]
        mn, mx = min(by_label[r.label]), max(by_label[r.label])
        want = 0 if mx == mn else (scores[r.vec_id] - mn) * 1_000_000 // (mx - mn)
        assert got.scaled_e6 == want
    for lab, ss in by_label.items():
        vals = [out[v].scaled_e6 for v in out if out[v].label == lab]
        assert min(vals) == 0 and (max(vals) == 1_000_000 or len(set(ss)) == 1)
