"""Round-4 batch-37 operators: HITS authorities over the DNS bipartite
graph, content-defined chunking, KMV bottom-k distinct sketch. Pins:
full Python replays of the two HITS iterations, the anchor/boundary
chunking (fingerprints, occurrence counts) and the KMV estimator; the
CDC re-synchronization property on an engineered insertion (chunks
after the edit's anchor keep their fingerprints, fixed-stride would
shift them all); and the duplicate-insensitivity of KMV (events stream
vs its distinct-user projection give the same sketch).
"""

from __future__ import annotations

import hashlib
from collections import Counter

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.operators import analytics as an
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _h28(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


# ------------------------------------------------ HITS authorities


def test_hits_python_replay(spark):
    ev = load_table(spark, SF, "events").collect()
    edges = {
        (
            f"10.0.{r.user_id % 32}.{r.user_id % 251}",
            f"host{r.event_id % 1000}.example.com.",
        )
        for r in ev
        if r.event_id % 2 == 0
    }
    a1: Counter = Counter(q for _, q in edges)
    h1: Counter = Counter()
    for c, q in edges:
        h1[c] += a1[q]
    a2: Counter = Counter()
    for c, q in edges:
        a2[q] += h1[c]
    expect = sorted(
        ((q, a1[q], a2[q]) for q in a2), key=lambda t: (-t[2], t[0])
    )[: an.HITS_TOP]
    got = [(r.questionName, r.indegree, r.authority)
           for r in an.hits_authority(spark, SF).collect()]
    assert got == expect


def test_hits_beats_indegree_ranking(spark):
    """Mutual reinforcement must be able to OVERRULE indegree: a qname
    asked once by a very busy client (hub) outranks a qname asked twice
    by one-shot clients — the ordering plain indegree inverts."""
    edges = [("A", f"p{i}") for i in range(5)]  # A is a strong hub
    edges += [("A", "q1"), ("B", "q2"), ("C", "q2")]
    spark.createDataFrame(
        edges, "queryAddress STRING, questionName STRING"
    ).createOrReplaceTempView("hits_fixture")
    rows = {r.questionName: (r.indegree, r.authority)
            for r in spark.sql(
                an._hits_body("SELECT * FROM hits_fixture")).collect()}
    assert rows["q1"][0] < rows["q2"][0]  # indegree says q2
    assert rows["q1"][1] > rows["q2"][1]  # authority says q1


# ------------------------------------------------ CDC chunking


def _cdc_replay(texts: dict):
    out = {}
    occ: Counter = Counter()
    for d, t in texts.items():
        toks = t.split(" ")
        chunks, cur = [], []
        for pos, tok in enumerate(toks, start=1):
            cur.append((pos, _h28(tok)))
            if _h28(tok) % ftext.CDC_DIVISOR == 0:
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        recs = []
        for cid, ch in enumerate(chunks):
            p0 = ch[0][0]
            fp = sum(h * (pos - p0 + 1) for pos, h in ch)
            recs.append((d, cid, p0, len(ch), fp))
            occ[(fp, len(ch))] += 1
        out[d] = recs
    return {
        d: [r + (occ[(r[4], r[3])],) for r in recs]
        for d, recs in out.items()
    }


def test_cdc_python_replay(spark):
    texts = {r.doc_id: r.text
             for r in load_table(spark, SF, "documents").collect()}
    expect = _cdc_replay(texts)
    got: dict = {}
    for r in ftext.cdc_chunks(spark, SF).collect():
        got.setdefault(r.doc_id, []).append(
            (r.doc_id, r.chunk_idx, r.start_pos, r.n_tokens, r.chunk_hash,
             r.n_occurrences))
    assert got == expect


def test_cdc_resynchronizes_after_insertion(spark):
    """Insert one token mid-document: every chunk after the edit's
    anchor must keep its exact fingerprint (the CDC property; a fixed
    stride would shift every later segment)."""
    base = " ".join(f"tok{i}" for i in range(60))
    edited_toks = base.split(" ")
    edited_toks.insert(7, "INSERTED")
    docs = load_table(spark, SF, "documents")
    rows = [(1, base, "en", "s", 1), (2, " ".join(edited_toks), "en", "s", 1)]
    try:
        spark.createDataFrame(
            rows,
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        ).createOrReplaceTempView("documents")
        out = spark.sql(ftext.cdc_chunks_sql("spark")).collect()
    finally:
        docs.createOrReplaceTempView("documents")
    fps = {1: [], 2: []}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        fps[r.doc_id].append((r.n_tokens, r.chunk_hash))
    # longest common suffix = the resynchronized region; only the
    # chunk(s) touching the edit (around token 8, mean chunk ~8) may
    # differ, so the suffix must cover all but the first couple chunks
    lcs = 0
    while (lcs < min(len(fps[1]), len(fps[2]))
           and fps[1][-1 - lcs] == fps[2][-1 - lcs]):
        lcs += 1
    assert lcs >= len(fps[1]) - 2
    assert fps[1] != fps[2]  # the edited chunk itself did change


# ------------------------------------------------ KMV distinct


def test_kmv_python_replay(spark):
    uids = {r.user_id for r in load_table(spark, SF, "events")
            .select("user_id").distinct().collect()}
    hv = sorted((_h28(str(u)), u) for u in uids)[: evan.KMV_K]
    expect = [
        (i + 1, u, h, ((i) * (1 << 28)) // h, len(uids))
        for i, (h, u) in enumerate(hv)
    ]
    got = [(r.rank, r.user_id, r.hash_value, r.kmv_est, r.n_exact)
           for r in evan.kmv_distinct(spark, SF).collect()]
    assert got == expect


def test_kmv_duplicate_insensitive(spark):
    """The sketch from the raw event stream equals the sketch from the
    deduplicated user list — min-k of hashes cannot see repeats."""
    ev = load_table(spark, SF, "events")
    full = [(r.rank, r.user_id, r.hash_value)
            for r in evan.kmv_distinct(spark, SF).collect()]
    try:
        ev.select("user_id").distinct().selectExpr(
            "CAST(row_number() OVER (ORDER BY user_id) AS BIGINT) AS event_id",
            "current_timestamp() AS ts",
            "user_id",
            "'view' AS event_type",
            "CAST(1.0 AS DOUBLE) AS value",
            "'{}' AS props",
        ).createOrReplaceTempView("events")
        dedup = [(r.rank, r.user_id, r.hash_value)
                 for r in spark.sql(evan.kmv_distinct_sql("spark")).collect()]
    finally:
        ev.createOrReplaceTempView("events")
    assert full == dedup
