"""Round-4 batch-46 operators: quality-aware canonicals, robust length
outliers, client profiles. Pins: Python replays of the argmax-by-
quality selection, the median/MAD arithmetic, and the per-client
aggregate; the canonical invariants (canonical quality is the cluster
max; min-id agreement flag correct; cluster set identical to the
min-id entry's); and the robust-gate law on an engineered frame (one
monster doc flagged, the mean-based z-score would have been dragged).
"""

from __future__ import annotations

from collections import defaultdict

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.operators import analytics as an
from dnstap2clickhouse_spark.sources.events import dns_query_stream
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ canonical by quality


def test_canonical_by_quality_invariants(spark):
    out = fdedup.canonical_by_quality(spark, SF).collect()
    quality = {r.doc_id: r.quality for r in spark.sql(
        "SELECT doc_id, quality FROM (SELECT doc_id, "
        + ftext._quality_expr().replace("n_stop", "s.n_stop")
          .replace("n_distinct", "s.n_distinct").replace("n_tokens", "s.n_tokens")
        + " AS quality FROM (SELECT "
        + ", ".join(ftext._stats_exprs("spark")) + " FROM documents) s) q"
    ).collect()}
    # same cluster partition as the min-id canonical entry
    minid = {r.doc_id: (r.n_members, r.n_dups_removed)
             for r in fdedup.canonical_corpus(spark, SF).collect()}
    assert sum(r.n_members for r in out) == sum(m for m, _ in minid.values())
    assert len(out) == len(minid)
    labels = {r.doc_id: r.cluster_id
              for r in fdedup._cc_labels(spark, SF).collect()}
    members: dict = defaultdict(list)
    for d, c in labels.items():
        members[c].append(d)
    for r in out:
        docs = members[r.cluster_id]
        best = max(docs, key=lambda d: (quality[d], -d))
        assert r.canonical_doc == best
        assert r.canonical_quality == quality[best]
        assert r.n_members == len(docs)
        assert r.differs_from_min_id == (best != min(docs))


# ------------------------------------------------ length outliers


def test_length_outliers_python_replay(spark):
    lens = {r.doc_id: len(r.text.split(" "))
            for r in load_table(spark, SF, "documents").collect()}
    vals = sorted((v, d) for d, v in lens.items())
    n = len(vals)
    med = vals[(n + 1) // 2 - 1][0]
    devs = sorted((abs(v - med), d) for d, v in lens.items())
    mad = devs[(n + 1) // 2 - 1][0]
    out = ftext.length_outliers(spark, SF).collect()
    for r in out:
        assert r.n_tokens == lens[r.doc_id]
        assert (r.median_tokens, r.mad_tokens) == (med, mad)
        assert r.is_outlier == (abs(r.n_tokens - med) > ftext.MAD_K * mad)


def test_length_outliers_robust_to_monster_doc(spark):
    """One 10_000-token monster in a 99-doc corpus of ~100-token docs:
    the MAD gate flags exactly the monster; a mean/stddev z-gate's
    threshold would have been dragged by the monster itself."""
    docs = load_table(spark, SF, "documents")
    rows = [(i, " ".join(["w"] * (95 + i % 11)), "en", "s", 1)
            for i in range(99)]
    rows.append((99, " ".join(["w"] * 10_000), "en", "s", 1))
    try:
        spark.createDataFrame(
            rows,
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        ).createOrReplaceTempView("documents")
        out = {r.doc_id: r.is_outlier
               for r in spark.sql(ftext.length_outliers_sql("spark")).collect()}
    finally:
        docs.createOrReplaceTempView("documents")
    assert out[99]
    assert sum(out.values()) == 1


# ------------------------------------------------ client profile


def test_client_profile_python_replay(spark):
    rows = dns_query_stream(spark, SF).selectExpr(
        "queryAddress", "questionName", "questionType", "queryPort",
        "unix_micros(queryTime) AS t_us").collect()
    prof: dict = defaultdict(lambda: [0, set(), set(), set(), [], []])
    for r in rows:
        p = prof[r.queryAddress]
        p[0] += 1
        p[1].add(r.questionName)
        p[2].add(r.questionType)
        p[3].add(r.queryPort)
        p[4].append(r.t_us)
    expect = sorted(
        (a, p[0], len(p[1]), len(p[2]), len(p[3]),
         min(p[4]), max(p[4]), (max(p[4]) - min(p[4])) // 1_000_000)
        for a, p in prof.items())
    got = sorted(tuple(r) for r in an.client_profile(spark, SF).collect())
    assert got == expect
