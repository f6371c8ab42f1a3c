"""Round-4 batch-14 operators: WebDataset shard packing and GDPR batch
erasure. These pin the operators' meaning: a full Python replay of the
prefix-sum shard layout plus partitioning independence of the
distributed cumsum, and the erasure cohort's exact membership +
zero-residue proof recomputed in Python. The k-core tests live in
``test_graph.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dnstap2clickhouse_spark.functions import multimodal as fmm
from dnstap2clickhouse_spark.functions import splits as fsplit
from dnstap2clickhouse_spark.functions.splits import LEHMER_A, LEHMER_P
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- shard manifest


def test_shard_manifest_python_replay(spark):
    """The whole layout — byte costs, running offsets, shard ids —
    recomputed sequentially in Python from the raw documents."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    cum, expect = 0, {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        # payload = unhex(repeat(md5(text), 2)) -> 32 bytes, caption = utf-8 text
        nb = 32 + len(r.text.encode("utf-8"))
        expect[r.doc_id] = (nb, cum, cum // fmm.SHARD_BYTES)
        cum += nb

    out = fmm.shard_manifest(spark, SF).collect()
    assert len(out) == len(expect)
    for r in out:
        assert (r.item_bytes, r.start_byte, r.shard_id) == expect[r.doc_id], r.doc_id


def test_shard_manifest_packing_invariants(spark):
    """Start-offset sharding: items never split across shards, offsets
    are contiguous in doc_id order, shard ids are non-decreasing, and
    each shard's payload is bounded by budget + one max item."""
    rows = sorted(fmm.shard_manifest(spark, SF).collect(), key=lambda r: r.doc_id)
    prev_end, prev_shard = 0, 0
    shard_bytes: dict[int, int] = {}
    for r in rows:
        assert r.start_byte == prev_end  # contiguous concatenation
        assert r.shard_id == r.start_byte // fmm.SHARD_BYTES
        assert r.shard_id >= prev_shard  # monotone layout
        shard_bytes[r.shard_id] = shard_bytes.get(r.shard_id, 0) + r.item_bytes
        prev_end, prev_shard = r.start_byte + r.item_bytes, r.shard_id
    max_item = max(r.item_bytes for r in rows)
    for sid, nb in shard_bytes.items():
        assert nb <= fmm.SHARD_BYTES + max_item, (sid, nb)


def test_global_prefix_sum_partitioning_independent(spark):
    """The distributed cumsum depends only on the order column, never
    on where range boundaries land: an adversarially reshuffled input
    (13 hash partitions) produces the identical global prefix sum."""
    docs = load_table(spark, SF, "documents").selectExpr(
        "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS w"
    )
    base = {
        r.doc_id: r.g
        for r in fsplit.global_prefix_sum(spark, docs, "doc_id", "w")
        .selectExpr("doc_id", "__base + __local_end AS g")
        .collect()
    }
    shuffled = {
        r.doc_id: r.g
        for r in fsplit.global_prefix_sum(spark, docs.repartition(13), "doc_id", "w")
        .selectExpr("doc_id", "__base + __local_end AS g")
        .collect()
    }
    assert base == shuffled


# --------------------------------------------------- user erasure


def _erased(uid: int) -> bool:
    h1 = (uid % LEHMER_P) * LEHMER_A % LEHMER_P
    return (h1 * LEHMER_A % LEHMER_P) % evan.ERASURE_BUCKETS == 0


def test_user_erasure_python_replay(spark):
    """Cohort membership, per-type before/after/erased counts, distinct
    erased users, and the zero-residue proof — all recomputed from the
    raw events in Python."""
    ev = load_table(spark, SF, "events").select("event_type", "user_id").collect()
    before: dict[str, int] = {}
    after: dict[str, int] = {}
    users: dict[str, set] = {}
    for r in ev:
        before[r.event_type] = before.get(r.event_type, 0) + 1
        if _erased(r.user_id):
            users.setdefault(r.event_type, set()).add(r.user_id)
        else:
            after[r.event_type] = after.get(r.event_type, 0) + 1

    out = evan.user_erasure(spark, SF).collect()
    assert {r.event_type for r in out} == set(before)
    for r in out:
        assert r.residue == 0
        assert r.n_before == before[r.event_type]
        assert r.n_after == after.get(r.event_type, 0)
        assert r.n_erased == r.n_before - r.n_after
        assert r.n_erased_users == len(users.get(r.event_type, set()))
    # the cohort must be non-trivial for the entry to certify anything
    assert sum(r.n_erased for r in out) > 0
    assert sum(r.n_after for r in out) > 0


def test_user_erasure_is_broadcastable_anti_join_shape(spark):
    """The kept relation equals events minus the cohort exactly (the
    anti-join semantics), certified per event row, not just per count."""
    ev = load_table(spark, SF, "events")
    kept = ev.where(
        ~(F.expr(fsplit._bucket2_sql("user_id", evan.ERASURE_BUCKETS)) == 0)
    )
    assert kept.where(
        F.expr(fsplit._bucket2_sql("user_id", evan.ERASURE_BUCKETS)) == 0
    ).count() == 0
    assert kept.count() + ev.where(
        F.expr(fsplit._bucket2_sql("user_id", evan.ERASURE_BUCKETS)) == 0
    ).count() == ev.count()
