"""J1 exact-semantics flavor: a custom stateful streaming operator.

``operators.join.match_response_times`` ports J1 as a relational
interval join (all eligible pairs), and ``match_response_times_once`` as
deterministic sequence pairing. This module is the third, highest-
fidelity flavor: the reference's single-slot hash state machine
(``AggregateResponseTimeSample``, aggregator.go:352-409) reproduced
literally with ``applyInPandasWithState``:

- one pending timestamp per key ``{identity, queryAddress, queryPort,
  id}`` (aggregator.go:362-367);
- first arrival of either side stores its timestamp (369-371);
- the other side's arrival computes ``responseTime - queryTime`` with
  the role taken from the NEW arrival (374-381) — the state does not
  record which side it stored, exactly like the reference;
- negative delta => id collision => replace state, emit nothing
  (382-388);
- match => emit the micro-second delta and delete the key (389-390);
- TTL eviction of stale pending entries (aggregator.go:510-515) via the
  **event-time** state timeout: the watermark drives expiry, so replays
  are deterministic. (A processing-time timeout would also keep an
  ``availableNow`` run triggering empty micro-batches forever.)

Rows are processed in event-time order within each key (the reference
uses arrival order; event-time order is the deterministic, replayable
choice — documented delta).

This operator is NOT SQL-expressible (the emitted pair set depends on
sequential state transitions, e.g. interleaved q1,q2,r1 emits only
(q2,r1) after a collision replace), so it carries no DuckDB oracle —
it is pinned instead by a pure-Python reference simulator
(``simulate_match``) used in tests, and by equivalence to the rank-
pairing form on collision-free input.

Scale: state is partitioned by the grouping key across executors
(RocksDB state store in production); per-key state is one (long, bool)
slot, and each micro-batch moves one Arrow batch per partition — no
driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.join import JOIN_KEYS

OUTPUT_SCHEMA = (
    "identity string, queryAddress string, queryPort bigint, id bigint, "
    "responseTime timestamp, delta_us bigint"
)
STATE_SCHEMA = "pending_us long, pending_is_response boolean"

def _step(
    pending: tuple[int, bool] | None, ts_us: int, is_response: bool
) -> tuple[tuple[int, bool] | None, int | None]:
    """One transition of the reference state machine.

    Returns (new_state, emitted_delta_us) — exactly aggregator.go:368-390.
    """
    if pending is None:
        return (ts_us, is_response), None
    stored_us, _stored_side = pending
    if is_response:
        delta = ts_us - stored_us  # stored plays the query role
    else:
        delta = stored_us - ts_us  # stored plays the response role
    if delta < 0:
        return (ts_us, is_response), None  # collision: replace, no emit
    return None, delta

def simulate_match(rows: list[tuple[int, bool]]) -> list[int]:
    """Pure-Python reference simulator for ONE key: list of
    (ts_us, is_response) in processing order -> emitted deltas. Used by
    tests as the ground truth for the streaming operator."""
    state: tuple[int, bool] | None = None
    out: list[int] = []
    for ts_us, is_resp in rows:
        state, delta = _step(state, ts_us, is_resp)
        if delta is not None:
            out.append(delta)
    return out

def _make_match_fn(ttl_ms: int | None):
    def match_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # TTL eviction (aggregator.go:510-515)
            state.remove()
            return
        pending: tuple[int, bool] | None = None
        if state.exists:
            pu, pr = state.get
            pending = (int(pu), bool(pr))
        parts = [p for p in pdfs if not p.empty]
        if not parts:
            return
        batch = pd.concat(parts, ignore_index=True).sort_values("ts_us", kind="stable")
        emitted: list[tuple[int, int]] = []  # (response_ts_us, delta_us)
        last_ts_us = 0
        for ts_us, is_resp in zip(batch["ts_us"], batch["is_response"]):
            ts_us = int(ts_us)
            last_ts_us = max(last_ts_us, ts_us)
            pending, delta = _step(pending, ts_us, bool(is_resp))
            if delta is not None:
                # responseTime of the emitted sample = the response
                # role's time (aggregator.go:375-381): the new arrival
                # when it's a response, else the stored ts (= ts + delta)
                emitted.append((ts_us if is_resp else ts_us + delta, delta))
        if pending is None:
            state.remove()
        else:
            state.update(pending)
            if ttl_ms is not None:
                # expire when the watermark passes pending_ts + TTL; the
                # timestamp must sit above the current watermark
                state.setTimeoutTimestamp(
                    max(state.getCurrentWatermarkMs() + 1, pending[0] // 1000 + ttl_ms)
                )
        if emitted:
            identity, query_address, query_port, dns_id = key
            yield pd.DataFrame(
                {
                    "identity": identity,
                    "queryAddress": query_address,
                    "queryPort": query_port,
                    "id": dns_id,
                    "responseTime": pd.to_datetime(
                        [ts for ts, _ in emitted], unit="us", utc=True
                    ).tz_localize(None),
                    "delta_us": [d for _, d in emitted],
                }
            )

    return match_fn

def stateful_match_once(tagged: DataFrame, ttl: str | None = None) -> DataFrame:
    """The streaming operator. ``tagged`` is the unioned pair stream from
    :func:`tag_pair_streams` with columns ``identity, queryAddress,
    queryPort, id, ts (timestamp), ts_us (long), is_response (boolean)``.

    ``ttl``: event-time TTL for pending entries (e.g. ``'10 minutes'``),
    or None for unbounded state (test/one-shot runs).
    """
    if ttl is None:
        timeout = GroupStateTimeout.NoTimeout
    else:
        timeout = GroupStateTimeout.EventTimeTimeout
        tagged = tagged.withWatermark("ts", ttl)
        n, unit = ttl.split()
        ttl_ms = int(n) * {
            "second": 1_000, "seconds": 1_000,
            "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000,
            "day": 86_400_000, "days": 86_400_000,
        }[unit]
    return tagged.groupBy(*JOIN_KEYS).applyInPandasWithState(
        _make_match_fn(None if ttl is None else ttl_ms),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        timeout,
    )

def tag_pair_streams(queries: DataFrame, responses: DataFrame) -> DataFrame:
    """Union the two sides into the operator's input shape (the
    reference's tagged-union Message channel, aggregator.go:111-121)."""
    from pyspark.sql import functions as F

    q = queries.select(
        *JOIN_KEYS,
        F.col("queryTime").alias("ts"),
        F.unix_micros("queryTime").alias("ts_us"),
        F.lit(False).alias("is_response"),
    )
    r = responses.select(
        *JOIN_KEYS,
        F.col("responseTime").alias("ts"),
        F.unix_micros("responseTime").alias("ts_us"),
        F.lit(True).alias("is_response"),
    )
    return q.unionByName(r)
