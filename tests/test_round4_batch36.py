"""Round-4 batch-36 operators: Count-Min sketch heavy-hitter audit,
TF-IDF top terms, aHash perceptual image dedup. Pins: full Python
replays of the sketch (cells, probes, min-estimate), the linear-IDF
scoring, and the pixel-stub aHash; the CM one-sided guarantee
(overestimate >= 0 on every audited row); banding completeness (result
== brute-force hamming <= 3 pairs); and an engineered identical-image
frame producing a hamming-0 pair, with NULL-text documents dropped alike
by the Spark and DuckDB forms.
"""

from __future__ import annotations

import hashlib
import itertools
from collections import Counter

from dnstap2clickhouse_spark.functions import multimodal as fmm
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _h28(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


# ------------------------------------------------ Count-Min sketch


def _count_min_replay(user_ids):
    cells: Counter = Counter()
    for u in user_ids:
        for d in range(evan.CM_DEPTH):
            cells[(d, _h28(f"{d}:{u}") % evan.CM_WIDTH)] += 1
    exact = Counter(user_ids)
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[: evan.CM_TOP]
    return [
        (
            u,
            n,
            min(cells[(d, _h28(f"{d}:{u}") % evan.CM_WIDTH)]
                for d in range(evan.CM_DEPTH)),
        )
        for u, n in top
    ]


def test_count_min_python_replay(spark):
    uids = [r.user_id for r in load_table(spark, SF, "events")
            .select("user_id").collect()]
    expect = [(u, n, est, est - n) for u, n, est in _count_min_replay(uids)]
    got = [(r.user_id, r.exact_n, r.cm_est, r.overestimate)
           for r in evan.count_min(spark, SF).collect()]
    assert got == expect


def test_count_min_one_sided_guarantee(spark):
    """CM estimates can only overcount: collisions add, never subtract."""
    rows = evan.count_min(spark, SF).collect()
    assert len(rows) == evan.CM_TOP
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.cm_est == r.exact_n + r.overestimate for r in rows)


# ------------------------------------------------ TF-IDF top terms


def _tfidf_replay(texts: dict):
    tf: Counter = Counter()
    docs_of: dict = {}
    for d, t in texts.items():
        for tok in t.split(" "):
            tf[(d, tok)] += 1
            docs_of.setdefault(tok, set()).add(d)
    n = len(texts)
    out = {}
    for d in texts:
        scored = sorted(
            (
                (-tf[(d, tok)] * ((n * ftext.TFIDF_SCALE) // len(docs_of[tok])),
                 tok)
                for tok in set(texts[d].split(" "))
            )
        )[: ftext.TFIDF_TOP]
        out[d] = [(tok, tf[(d, tok)], len(docs_of[tok]), -neg, i + 1)
                  for i, (neg, tok) in enumerate(scored)]
    return out


def test_tfidf_python_replay(spark):
    texts = {r.doc_id: r.text
             for r in load_table(spark, SF, "documents").collect()}
    expect = _tfidf_replay(texts)
    got: dict = {}
    for r in ftext.tfidf_terms(spark, SF).collect():
        got.setdefault(r.doc_id, []).append(
            (r.term, r.tf, r.df, r.tfidf_e6, r.rank))
    assert got == expect


def test_tfidf_rare_term_beats_ubiquitous(spark):
    """A term in one doc must outscore (per occurrence) a term in all."""
    out = ftext.tfidf_terms(spark, SF).collect()
    by_df = {}
    for r in out:
        by_df.setdefault(r.df, r.tfidf_e6 // r.tf)
    if len(by_df) > 1:
        dfs = sorted(by_df)
        assert by_df[dfs[0]] > by_df[dfs[-1]]


# ------------------------------------------------ aHash image dedup


def _ahash(text: str):
    toks = text.split(" ")[: fmm.AHASH_PIXELS]
    px = [_h28(t) % 256 for t in toks]
    px = (px * (fmm.AHASH_PIXELS // len(px) + 1))[: fmm.AHASH_PIXELS]
    total = sum(px)
    return tuple(1 if p * fmm.AHASH_PIXELS >= total else 0 for p in px)


def _ahash_pairs_bruteforce(texts: dict):
    hs = {d: _ahash(t) for d, t in texts.items() if d % 3 == 0}
    out = []
    for (a, ha), (b, hb) in itertools.combinations(sorted(hs.items()), 2):
        ham = sum(x != y for x, y in zip(ha, hb))
        if ham <= fmm.AHASH_HAM_MAX:
            out.append((a, b, ham))
    return sorted(out)


def test_image_ahash_python_replay_and_banding_complete(spark):
    """Banding must find EVERY pair at hamming <= AHASH_HAM_MAX (the
    pigeonhole guarantee), and verification must drop everything else —
    so the result equals the brute-force pair list exactly."""
    texts = {r.doc_id: r.text
             for r in load_table(spark, SF, "documents").collect()}
    expect = _ahash_pairs_bruteforce(texts)
    got = sorted((r.doc_a, r.doc_b, r.hamming)
                 for r in fmm.image_ahash(spark, SF).collect())
    assert got == expect
    assert len(got) > 0  # the corpus has image near-dups at this SF


def test_image_ahash_identical_images_pair(spark):
    """Two byte-identical images must surface as a hamming-0 pair, and two
    NULL-text documents pair with nothing: both dialects drop them."""
    import duckdb

    docs = load_table(spark, SF, "documents")
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    rows = [
        (0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "s", 40),
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "s", 40),
        (6, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "en", "s", 40),
        (9, None, "en", "s", 0),
        (12, None, "en", "s", 0),
    ]
    try:
        spark.createDataFrame(rows, schema).createOrReplaceTempView("documents")
        got = [(r.doc_a, r.doc_b, r.hamming)
               for r in spark.sql(fmm.image_ahash_sql("spark")).collect()]
    finally:
        docs.createOrReplaceTempView("documents")
    assert (0, 3, 0) in got
    assert all(p[:2] == (0, 3) for p in got)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE documents ({schema.replace('STRING', 'VARCHAR')})")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    assert con.execute(fmm.image_ahash_sql()).fetchall() == got
