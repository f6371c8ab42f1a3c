"""J1 match-once semantics: the batch sequence-pairing form and the
exact stateful streaming operator, pinned against a pure-Python
simulator of the reference state machine (aggregator.go:339-389)."""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime, timedelta

import pytest

from dnstap2clickhouse_spark import streaming as st
from dnstap2clickhouse_spark.operators.join import (
    match_response_times,
    match_response_times_once,
)
from dnstap2clickhouse_spark.sources.events import dns_pair_streams
from dnstap2clickhouse_spark.streaming.match_state import (
    simulate_match,
    stateful_match_once,
    tag_pair_streams,
)

SF = "/root/testdata/sf0.001"
T0 = datetime(2026, 1, 1)

def _q(spark, rows):
    return spark.createDataFrame(
        [(t, "ns1", "10.0.0.1", 53, 7) for t in rows],
        "queryTime timestamp, identity string, queryAddress string, queryPort long, id long",
    )

def _r(spark, rows):
    return spark.createDataFrame(
        [(t, "ns1", "10.0.0.1", 53, 7) for t in rows],
        "responseTime timestamp, identity string, queryAddress string, queryPort long, id long",
    )

def _ts(ms: int) -> datetime:
    return T0 + timedelta(milliseconds=ms)

# ------------------------------------------------------------- batch form

def test_match_once_at_most_one_match_per_row(spark):
    """Two queries + one response on one key: the relational join emits
    2 pairs, match-once emits exactly 1."""
    q = _q(spark, [_ts(0), _ts(10)])
    r = _r(spark, [_ts(100)])
    assert match_response_times(q, r).count() == 2
    assert match_response_times_once(q, r).count() == 1

def test_match_once_sequence_pairing(spark):
    """n-th query pairs with n-th response: deltas are positionwise."""
    q = _q(spark, [_ts(0), _ts(10), _ts(20)])
    r = _r(spark, [_ts(5), _ts(30), _ts(21)])
    # responses ordered: 5, 21, 30 -> pairs (0,5), (10,21), (20,30)
    got = sorted(row.delta_us for row in match_response_times_once(q, r).collect())
    assert got == [5_000, 10_000, 11_000]

def test_match_once_time_bound_discards(spark):
    """A pair violating the bound is discarded, not rematched."""
    q = _q(spark, [_ts(0)])
    r = _r(spark, [_ts(-5)])  # response before query: delta < 0
    assert match_response_times_once(q, r).count() == 0

def test_match_once_equals_relational_on_one_to_one(spark):
    """On the synthetic pair streams (collision-free 1:1 keys) all three
    flavors agree."""
    q, r = dns_pair_streams(spark, SF)
    a = sorted(
        (row.identity, row.delta_us) for row in match_response_times(q, r).collect()
    )
    b = sorted(
        (row.identity, row.delta_us)
        for row in match_response_times_once(q, r).collect()
    )
    assert a == b and len(a) > 0

# ------------------------------------------------------------- simulator

def test_simulator_basic_match():
    assert simulate_match([(0, False), (100, True)]) == [100]

def test_simulator_out_of_order_swap():
    """Response arrives first; the query's arrival computes the delta
    with swapped roles (aggregator.go:375-381)."""
    assert simulate_match([(100, True), (0, False)]) == [100]

def test_simulator_collision_replace():
    """q1, q2 (negative delta -> replace), r: only (q2, r) emits."""
    assert simulate_match([(0, False), (10, False), (100, True)]) == [90]

def test_simulator_state_deleted_on_match():
    """After a match the key is empty; a lone third row stores fresh."""
    assert simulate_match([(0, False), (100, True), (200, True)]) == [100]

# ------------------------------------------------- simulator properties

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    _traces = st_h.lists(
        st_h.tuples(st_h.integers(min_value=0, max_value=10**9), st_h.booleans()),
        max_size=50,
    )

    @given(_traces)
    @settings(max_examples=200, deadline=None)
    def test_simulator_deltas_non_negative(trace):
        """Invariant (aggregator.go:382-388): every emitted delta >= 0."""
        assert all(d >= 0 for d in simulate_match(trace))

    @given(_traces)
    @settings(max_examples=200, deadline=None)
    def test_simulator_emits_at_most_half(trace):
        """Each emit consumes a stored + a new row: <= len//2 emits."""
        assert len(simulate_match(trace)) <= len(trace) // 2

    @given(st_h.lists(st_h.integers(min_value=0, max_value=10**6), max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_simulator_alternating_pairs_all_match(gaps):
        """Well-formed traffic (q then r, strictly forward in time) always
        matches completely with the exact gap deltas."""
        t, trace, want = 0, [], []
        for g in gaps:
            trace.append((t, False))
            trace.append((t + g, True))
            want.append(g)
            t += g + 1
        assert simulate_match(trace) == want

except ImportError:  # pragma: no cover
    pass

# ------------------------------------------------------- streaming flavor

@pytest.fixture(scope="module")
def events_stream(spark):
    """events replayed as ``STREAM_CHUNKS`` ordered event_id-range
    micro-batches."""
    from dnstap2clickhouse_spark.sources.tables import load_table
    from dnstap2clickhouse_spark.streaming.pipeline import _range_chunked_stream

    with _range_chunked_stream(spark, load_table(spark, SF, "events"), "event_id") as stream:
        yield stream

def test_stateful_match_equals_batch_on_one_to_one(spark, events_stream):
    """The exact state machine agrees with sequence pairing on
    collision-free input, across micro-batch boundaries (state carried
    between batches)."""
    q, r = dns_pair_streams(spark, "", events=events_stream)
    sdf = stateful_match_once(tag_pair_streams(q, r))
    mem = st.run_stream_to_memory(sdf, "append", spark)

    bq, br = dns_pair_streams(spark, SF)
    # the streaming run has no TTL bound, so align the batch upper bound
    batch = match_response_times_once(bq, br, max_delay="30 days")
    got = sorted((row.identity, row.delta_us) for row in mem.collect())
    want = sorted((row.identity, row.delta_us) for row in batch.collect())
    assert got == want and len(got) > 0

def test_stateful_match_ttl_eviction(spark):
    """Event-time TTL (aggregator.go:510-515): a pending query whose key
    sits idle while the watermark passes pending+TTL is evicted, so a
    late response stores fresh instead of matching. Without a TTL the
    same input matches."""
    import time as _time

    schema = (
        "identity string, queryAddress string, queryPort long, id long, "
        "ts timestamp, ts_us long, is_response boolean"
    )
    t0_us = 1_760_000_000_000_000  # epoch micros

    def row(key_id, offset_min, is_resp):
        us = t0_us + offset_min * 60_000_000
        return ("ns1", "10.0.0.1", 53, key_id, datetime.utcfromtimestamp(us / 1e6), us, is_resp)

    files = [
        [row(1, 0, False), row(99, 0, False)],   # the pending query on key 1
        [row(98, 30, False)],                    # watermark -> t0+29min
        [row(97, 31, False)],                    # key 1 idle: TTL fires, evicted
        [row(1, 32, True), row(96, 32, False)],  # late response: stores fresh
    ]

    for ttl, want in ((None, 1), ("1 minute", 0)):
        d = tempfile.mkdtemp(prefix="ttl_stream_")
        try:
            for i, rows in enumerate(files):
                spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                    "append"
                ).parquet(os.path.join(d, "data"))
                _time.sleep(1.1)  # distinct mtimes => stable file order
            tagged = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(os.path.join(d, "data"))
            )
            mem = st.run_stream_to_memory(
                stateful_match_once(tagged, ttl=ttl), "append", spark
            )
            got = mem.filter("id = 1").count()
            assert got == want, f"ttl={ttl}: expected {want} matches, got {got}"
        finally:
            shutil.rmtree(d, ignore_errors=True)

def test_stateful_match_against_simulator(spark):
    """Randomized per-key traces: the distributed operator must emit the
    simulator's deltas for every key."""
    import random

    rng = random.Random(7)
    rows = []
    traces: dict[int, list[tuple[int, bool]]] = {}
    for key_id in range(20):
        trace = []
        t = 0
        for _ in range(rng.randint(1, 8)):
            t += rng.randint(1, 1000) * 1000
            trace.append((t, rng.random() < 0.5))
        traces[key_id] = trace
        for ts_us, is_resp in trace:
            rows.append(("ns1", "10.0.0.1", 53, key_id, ts_us, is_resp))

    d = tempfile.mkdtemp(prefix="sim_stream_")
    try:
        data = os.path.join(d, "data")
        spark.createDataFrame(
            rows,
            "identity string, queryAddress string, queryPort long, id long, "
            "ts_us long, is_response boolean",
        ).write.parquet(data)
        tagged = (
            spark.readStream.schema(
                "identity string, queryAddress string, queryPort long, id long, "
                "ts_us long, is_response boolean"
            ).parquet(data)
        )
        mem = st.run_stream_to_memory(stateful_match_once(tagged), "append", spark)
        got: dict[int, list[int]] = {}
        for row in mem.collect():
            got.setdefault(row.id, []).append(row.delta_us)
        want = {
            k: sorted(simulate_match(sorted(tr)))
            for k, tr in traces.items()
            if simulate_match(sorted(tr))
        }
        assert {k: sorted(v) for k, v in got.items()} == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
