"""J1: the stream-stream query<->response match + A9 average.

Reference semantics (``AggregateResponseTimeSample``, aggregator.go:352-409):
symmetric hash match on ``{identity, queryAddress, queryPort, id}``
(aggregator.go:179-184); first arrival of either side stores its timestamp,
the other side's arrival emits ``responseTime - queryTime`` in microseconds;
order-agnostic (aggregator.go:375-381); negative delta => id collision =>
discard (382-388); unmatched state expires after a TTL (510-515).

Spark-first port: an **inner equi-join with a time-interval bound**. The
join buffers both sides, so out-of-order arrival is free; the
``responseTime >= queryTime`` bound is the structural form of the
negative-delta guard; the upper bound (= watermark delay in streaming)
replaces the TTL eviction. The reference's 8-entry state cap
(aggregator.go:37) is load shedding, not semantics — watermark-bounded
state makes it unnecessary (SURVEY.md section 2.5).

A9 (aggregator.go:396-408, 495-507): per-identity running {sum us, count},
finalized as an **integer-division** average (``uint64 / uint64``,
aggregator.go:496) — reproduced with SQL ``div``.

Scale note: the join shuffles both sides on the 4-part key — high
cardinality, naturally well-distributed (DNS id is uniform). No broadcast:
both sides are event-scale. AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

JOIN_KEYS = ["identity", "queryAddress", "queryPort", "id"]

_INTERVAL_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3600 * 1_000_000,
    "day": 86400 * 1_000_000,
    "week": 7 * 86400 * 1_000_000,
}

def _interval_us(spec: str) -> int:
    """Parse ``'<n> <unit>'`` (unit singular or plural, microsecond..week —
    the same units Spark's INTERVAL literal accepts for this spec) into
    microseconds; raises a ValueError naming the accepted units instead of
    an opaque KeyError."""
    try:
        n, unit = spec.split()
        return int(n) * _INTERVAL_US[unit.lower().rstrip("s")]
    except (KeyError, ValueError) as e:
        units = ", ".join(f"{u}(s)" for u in _INTERVAL_US)
        raise ValueError(
            f"max_delay {spec!r} not understood: expected '<n> <unit>' "
            f"with unit one of {units}"
        ) from e

def _j1_pair(max_delay: str, cond: Column | None = None) -> tuple[Column, list[Column]]:
    """(predicate, projection) of a J1 pair over sides aliased ``q`` and
    ``r`` -- the one Spark definition every J1 join shares.

    The predicate is ``cond`` (a caller's extra equality, if any) AND
    equality on the 4-part key AND ``r.responseTime`` within
    ``[q.queryTime, q.queryTime + max_delay]``. The projection is
    ``(responseTime, identity, delta_us)``.
    """
    for k in JOIN_KEYS:
        eq = F.col(f"q.{k}") == F.col(f"r.{k}")
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (F.col("r.responseTime") >= F.col("q.queryTime"))
        & (F.col("r.responseTime") <= F.col("q.queryTime") + F.expr(f"INTERVAL '{max_delay}'"))
    )
    pair = [
        F.col("r.responseTime").alias("responseTime"),
        F.col("q.identity").alias("identity"),
        (F.unix_micros("r.responseTime") - F.unix_micros("q.queryTime")).alias("delta_us"),
    ]
    return cond, pair

def match_response_times(
    queries: DataFrame,
    responses: DataFrame,
    max_delay: str = "10 minutes",
) -> DataFrame:
    """One row per matched (query, response) pair with the latency delta.

    Returns: responseTime, identity, delta_us (>= 0 by construction).

    The interval bound is *banded into the equi-join key*: each query row
    is exploded into its own time band and the next (band width =
    max_delay), responses carry their single band, and the hash join key
    becomes (4-part key, band). Any pair with delta in [0, max_delay]
    lands in exactly one of the two bands, so results are identical to the
    plain interval join — but join candidates are only same-interval
    events. Without banding, DNS id reuse over a long retention window
    makes every probe touch every historic occurrence of the key (measured
    17x cost at 10x data on the unbanded form); banded, probe width stays
    O(occupancy of one interval) no matter how long the table grows.

    SHUFFLE_HASH on the response side: both sides are event-scale, so a
    Catalyst-chosen broadcast (which the sf0.1 stats otherwise trigger)
    would funnel the corpus through the driver. The hinted plan is one
    shuffle per side on (4-part key, band) and a per-task hash build —
    the layout that survives a 1000-executor scale-up.
    """
    delay_us = _interval_us(max_delay)
    q = queries.withColumn(
        "__band",
        F.explode(
            F.array(
                F.expr(f"unix_micros(queryTime) div {delay_us}"),
                F.expr(f"unix_micros(queryTime) div {delay_us} + 1"),
            )
        ),
    ).alias("q")
    r = (
        responses.withColumn(
            "__band", F.expr(f"unix_micros(responseTime) div {delay_us}")
        )
        .hint("shuffle_hash")
        .alias("r")
    )
    cond, pair = _j1_pair(max_delay, F.col("q.__band") == F.col("r.__band"))
    return q.join(r, cond, "inner").select(*pair)

def avg_response_time_samples(
    matched: DataFrame,
    interval: str = "10 seconds",
) -> DataFrame:
    """A9/A10: per-(window, identity) integer-division average of deltas.

    Output schema mirrors the ``clientQueryResponseTime`` table
    (quickstart.md:86-93) plus the window start and sample count.
    """
    return (
        matched.groupBy(F.window("responseTime", interval).alias("__w"), "identity")
        .agg(
            F.expr("sum(delta_us) div count(*)").alias("responseTimeDelta"),
            F.count(F.lit(1)).alias("nSamples"),
        )
        .select(
            F.col("__w.start").alias("windowStart"),
            "identity",
            "responseTimeDelta",
            "nSamples",
        )
    )

def match_response_times_once(
    queries: DataFrame,
    responses: DataFrame,
    max_delay: str = "10 minutes",
) -> DataFrame:
    """J1 with the reference's **match-once** semantics.

    The reference's hash state (aggregator.go:339-389) holds ONE pending
    timestamp per key and deletes it on match — each query occurrence
    pairs with at most one response and vice versa, unlike a relational
    join which emits all pairs. The deterministic batch form is
    sequence pairing: the n-th query on a key (by queryTime) pairs with
    the n-th response on that key (by responseTime). Pairs that violate
    the time bound are discarded, mirroring the reference's
    negative-delta collision discard (aggregator.go:382-388).

    Deterministic despite ties: tied timestamps are equal values, so the
    emitted delta multiset is invariant to tie permutation.

    Scale: one shuffle per side on the 4-part key (window rank), then a
    co-partitioned equi-join on the same key — key cardinality is
    uniform (DNS id), so no skew. The SHUFFLE_HASH hint is load-bearing:
    left alone, Catalyst sees the windowed response side as
    "small enough" and picks BroadcastHashJoin, collecting the ENTIRE
    response stream through the driver — fine at sf0.1, fatal at 100 TB
    (the response side scales with the corpus, it is not a dim table).
    With the hint, the window exchanges on the 4-part key already
    satisfy the join's clustering requirement (join keys = 4-part key +
    seq, a superset), so the join adds ZERO extra shuffle and ZERO sort:
    each task hash-builds its own co-partitioned response slice.
    Measured at sf0.1: 0.65-0.86 s stable, vs 0.94-1.5 s (high variance)
    for the broadcast plan and a 1.8-3.1 s drifting worst case (round-3
    regression root cause: driver-side broadcast rebuild per action).
    """
    from pyspark.sql import Window

    wq = Window.partitionBy(*JOIN_KEYS).orderBy("queryTime")
    wr = Window.partitionBy(*JOIN_KEYS).orderBy("responseTime")
    q = queries.withColumn("seq", F.row_number().over(wq)).alias("q")
    r = responses.withColumn("seq", F.row_number().over(wr)).hint("shuffle_hash").alias("r")
    cond, pair = _j1_pair(max_delay, F.col("q.seq") == F.col("r.seq"))
    return q.join(r, cond, "inner").select(*pair)

def match_response_times_once_sql(
    query_sql: str,
    response_sql: str,
    max_delay_sql: str = "INTERVAL '10 minutes'",
) -> str:
    """DuckDB-oracle counterpart of :func:`match_response_times_once`."""
    keys = ", ".join(JOIN_KEYS)
    on = " AND ".join(f"q.{k} = r.{k}" for k in JOIN_KEYS)
    return (
        f"WITH qs AS (\n"
        f"  SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY queryTime) AS seq\n"
        f"  FROM ({query_sql})),\n"
        f"rs AS (\n"
        f"  SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY responseTime) AS seq\n"
        f"  FROM ({response_sql}))\n"
        f"SELECT r.responseTime AS responseTime, q.identity AS identity,\n"
        f"       epoch_us(r.responseTime) - epoch_us(q.queryTime) AS delta_us\n"
        f"FROM qs q JOIN rs r\n"
        f"  ON {on} AND q.seq = r.seq\n"
        f" AND r.responseTime >= q.queryTime\n"
        f" AND r.responseTime <= q.queryTime + {max_delay_sql}"
    )

def match_response_times_sql(
    query_sql: str,
    response_sql: str,
    max_delay_sql: str = "INTERVAL '10 minutes'",
) -> str:
    """DuckDB-oracle counterpart of :func:`match_response_times`."""
    on = " AND ".join(f"q.{k} = r.{k}" for k in JOIN_KEYS)
    return (
        f"SELECT r.responseTime AS responseTime, q.identity AS identity,\n"
        f"       epoch_us(r.responseTime) - epoch_us(q.queryTime) AS delta_us\n"
        f"FROM ({query_sql}) q JOIN ({response_sql}) r\n"
        f"  ON {on}\n"
        f" AND r.responseTime >= q.queryTime\n"
        f" AND r.responseTime <= q.queryTime + {max_delay_sql}"
    )

def avg_response_time_samples_sql(matched_sql: str, interval_s: int = 10) -> str:
    return (
        f"SELECT time_bucket(INTERVAL '{interval_s} seconds', responseTime) AS windowStart,\n"
        f"       identity,\n"
        # // is DuckDB integer division, matching Spark's `div` and the
        # reference's uint64/uint64 (aggregator.go:496)
        f"       CAST(CAST(sum(delta_us) AS BIGINT) // count(*) AS BIGINT) AS responseTimeDelta,\n"
        f"       count(*) AS nSamples\n"
        f"FROM ({matched_sql})\n"
        f"GROUP BY ALL"
    )

def orphan_responses(
    queries: DataFrame,
    responses: DataFrame,
) -> DataFrame:
    """Diagnostic complement of J1: responses whose 4-part key has NO
    pending query at all — the rows the reference silently stores-then-
    expires (aggregator.go:339-351, 510-515) without ever emitting.
    ``left_anti`` on the equi-key (one shuffle per side, same key layout
    as the match join so AQE reuses exchanges when run together); a
    per-identity count makes it a dashboardable data-quality signal.
    SHUFFLE_HASH for the same reason as :func:`match_response_times_once`:
    the build side is the corpus-sized query stream, not a dim table —
    never let Catalyst broadcast it through the driver.
    """
    r = responses.alias("r")
    q = queries.hint("shuffle_hash").alias("q")
    orphans = r.join(q, on=JOIN_KEYS, how="left_anti")
    return (
        orphans.groupBy("identity")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .orderBy("identity")
    )

def orphan_responses_sql(query_sql: str, response_sql: str) -> str:
    on = " AND ".join(f"q.{k} = r.{k}" for k in JOIN_KEYS)
    return (
        f"SELECT r.identity AS identity, count(*) AS n_orphans\n"
        f"FROM ({response_sql}) r\n"
        f"WHERE NOT EXISTS (SELECT 1 FROM ({query_sql}) q WHERE {on})\n"
        f"GROUP BY r.identity ORDER BY identity"
    )
