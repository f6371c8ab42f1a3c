"""Round-4 batch-32 operators: IVF balance audit, near-dup review
surface, split checksums. Pins: occupancy identities against the
standalone assignment, review rows replaying from the verified pairs
+ raw texts, and checksum recomputation from scratch (order/engine
independence is the operator's whole claim).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ IVF balance


def test_ivf_balance_identities(spark):
    out = fsim.ivf_balance(spark, SF).collect()
    occ = {r.cell: r.n_members for r in out}
    n_total = load_table(spark, SF, "embeddings").count()
    assert sum(occ.values()) == n_total  # every vector in exactly one cell
    mx, mn = max(occ.values()), min(occ.values())
    for r in out:
        assert (r.min_occ, r.max_occ, r.n_cells) == (mn, mx, len(occ))
        assert r.imbalance_e6 == mx * len(occ) * 1_000_000 // n_total
        assert r.imbalance_e6 >= 1_000_000  # max*cells >= total always


# ------------------------------------------------ pair examples


def test_pair_examples_python_replay(spark):
    vp = fdedup.lsh_verified_pairs(spark, SF).collect()
    texts = {r.doc_id: r.text
             for r in load_table(spark, SF, "documents").collect()}
    ranked = sorted(
        ((round(r.jaccard * 1_000_000), r.doc_a, r.doc_b) for r in vp),
        key=lambda t: (-t[0], t[1], t[2]),
    )[: fdedup.PAIR_EXAMPLES_TOP]

    out = fdedup.pair_examples(spark, SF).collect()
    assert [(r.jaccard_e6, r.doc_a, r.doc_b) for r in out] == ranked
    for r in out:
        assert r.snippet_a == texts[r.doc_a][: fdedup.PAIR_SNIPPET_CHARS]
        assert r.snippet_b == texts[r.doc_b][: fdedup.PAIR_SNIPPET_CHARS]


# ------------------------------------------------ manifest checksums


def _split_of(doc_id: int) -> str:
    b = (doc_id % fsplit.LEHMER_P) * fsplit.LEHMER_A % fsplit.LEHMER_P % 100
    for name, (lo, hi) in fsplit.SPLIT_BOUNDS.items():
        if lo <= b < hi:
            return name
    raise AssertionError


def test_manifest_checksums_python_replay(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for d in docs:
        s = _split_of(d.doc_id)
        agg[s][0] += 1
        agg[s][1] += len(d.text.split(" "))
        agg[s][2] += int(hashlib.md5(d.text.encode()).hexdigest()[:7], 16)

    out = {r.split: r for r in fsplit.manifest_checksums(spark, SF).collect()}
    assert set(out) == set(agg)
    for s, (n, tok, ck) in agg.items():
        assert (out[s].n_docs, out[s].n_tokens, out[s].content_checksum) == \
            (n, tok, ck)


def test_manifest_checksum_detects_content_change(spark):
    """The fingerprint's purpose: a one-character edit in ONE document
    must move its split's checksum and no other."""
    docs = load_table(spark, SF, "documents")
    orig = docs.collect()
    before = {r.split: r.content_checksum
              for r in fsplit.manifest_checksums(spark, SF).collect()}
    victim = orig[0]
    try:
        edited = [(r.doc_id, ("X" + r.text[1:]) if r.doc_id == victim.doc_id
                   else r.text, r.lang, r.source, r.n_chars) for r in orig]
        spark.createDataFrame(
            edited, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).createOrReplaceTempView("documents")
        after = {r.split: r.content_checksum for r in spark.sql(
            fsplit._manifest_checksums_sql("spark")).collect()}
    finally:
        docs.createOrReplaceTempView("documents")
    changed = {s for s in before if before[s] != after[s]}
    assert changed == {_split_of(victim.doc_id)}
