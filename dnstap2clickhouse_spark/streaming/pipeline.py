"""Structured Streaming binding of the batch operator library.

Design stance (SURVEY.md section 7): every pipeline stage is a pure
DataFrame -> DataFrame function, so a stream query is the batch query
over a prefix: the batch builders (``operators.dns_pipeline``) and the
shared J1 pair predicate (``operators.join._j1_pair``) run unchanged over
a watermarked ``readStream``; this module holds no copy of them.
This is the engine's equivalent of the reference's goroutine pipeline
(main.go:121-153), with these deliberate semantic upgrades (SURVEY.md
section 2.9):

- event-time tumbling windows + watermark instead of processing-time
  flush timers (aggregator.go:535-536, 595-619);
- watermark-based state eviction instead of the manual TTL scan
  (aggregator.go:510-515) and the 8-entry state cap (aggregator.go:37);
- checkpointed at-least-once delivery instead of the crash-lossy
  in-memory maps + retry-queue drop (clickhouse.go:376-380).

The file source here stands in for the dnstap unix socket: the socket
bridge (``sources.bridge``) tails the socket into the files it reads
(SURVEY.md section 2.1).
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..config import AggregatorConfig
from ..operators.join import _j1_pair
from ..sources.events import dns_pair_streams
from ..sources.tables import load_table, materialize_scan

def streaming_response_time_join(
    events: DataFrame,
    cfg: AggregatorConfig | None = None,
    watermark: str = "30 days",
) -> DataFrame:
    """J1 as a genuine stream-stream inner join with interval bound.

    Watermarks on both sides bound the join state (replacing the
    reference's TTL + 8-entry cap); the time-range condition is the
    structural negative-delta guard. Returns matched pairs with delta_us.
    A9's windowed average can follow in the same append-mode query
    (``avg_response_time_samples`` over this stream): Spark 4 accepts a
    windowed aggregation after a stream-stream join, and emits each
    window once the watermark closes it.
    """
    cfg = cfg or AggregatorConfig()
    q, r, cond, pair = _pair_join_inputs(events, watermark, cfg.max_response_delay)
    return q.join(r, cond, "inner").select(*pair)

def streaming_exact_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    time_col: str = "ts",
    watermark: str = "90 days",
) -> DataFrame:
    """Exactly-once by key over an at-least-once stream:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes it, so state is bounded (unlike ``dropDuplicates``
    on a stream, whose state grows forever). This is the streaming
    flavor of ``functions/dedup.exact_dedup`` and the idiomatic
    replacement for the reference sink's retry/drop machinery
    (clickhouse.go:361-412): redeliveries inside the watermark collapse
    to one row, upgrading at-most-once to effectively-once into any
    downstream sink.

    At scale: state is hash-partitioned by key across executors; the
    watermark is the knob trading state size vs dedup horizon.
    """
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )

def stateful_match_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper for the exact-semantics stateful match
    (``streaming.match_state``): deliver the events table as
    ``STREAM_CHUNKS`` ascending ``event_id`` ranges, run the
    ``applyInPandasWithState`` operator over them with state carried
    across batches, and return the matched samples.

    The oracle is sequence pairing (``match_response_times_once``) with
    the same no-TTL bound: on the collision-free pair streams the state
    machine emits exactly those pairs; tests also pin it against the
    pure-Python simulator.
    """
    from .match_state import stateful_match_once, tag_pair_streams

    ev = load_table(spark, sf_dir, "events")
    with _range_chunked_stream(spark, ev, "event_id") as stream:
        q, r = dns_pair_streams(spark, "", events=stream)
        matched = stateful_match_once(tag_pair_streams(q, r))
        return run_stream_to_memory(matched, "append", spark)

def run_stream_to_memory(
    sdf: DataFrame,
    mode: str,
    spark: SparkSession,
    name: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (all available input) into
    an in-memory table; returns the batch DataFrame of results.

    For 'update' mode aggregations the caller should collapse to the last
    update per key (the memory sink appends every update)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    query = (
        sdf.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")

def streaming_curation_filter(docs: DataFrame, eval_grams: frozenset) -> DataFrame:
    """Stateless streaming curation over a ``documents``-shaped stream:
    quality gate + repetition gate + benchmark decontamination, per
    micro-batch, with ZERO streaming state (any trigger/output mode).

    - The quality and repetition gates are per-row JVM expressions: the
      repetition fractions come from array ops over the row's own
      bigrams (``array_distinct`` for the dup count, a counted
      ``filter`` per distinct bigram for the top share) — same math as
      the batch ``text.repetition_filter``'s two-stage groupBy, but
      needing no shuffle, which is what makes it streaming-stateless.
    - Decontamination is 8-gram membership against a driver-broadcast
      eval-gram set inside an Arrow-batched pandas UDF — the bloom/set
      membership shape. The batch flavor (``text.decontaminate``) keeps
      the JVM broadcast join; here the set travels once per executor and
      each row is a hash probe, so the stream is never joined or
      shuffled at all.

    At scale: this is a pure mapper pipeline — it fuses into the source
    read, parallelism is the source's partitioning, and the eval set
    (a benchmark, small by construction) is the only broadcast.
    """
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import (
        DECONTAM_K,
        DUP_BIGRAM_MAX,
        EVAL_SOURCE,
        TOP_BIGRAM_MAX,
        _kgram_expr,
        _quality_expr,
        _stats_exprs,
        _toks,
    )
    from ..plans.curation import QUALITY_MIN

    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(frozenset(eval_grams))

    @pandas_udf("boolean")
    def _contaminated(grams: pd.Series) -> pd.Series:
        s = bc.value
        return grams.apply(lambda gs: any(g in s for g in gs))

    toks = _toks("spark")
    bg = (
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), "
        "(a, b) -> concat_ws(' ', a, b))"
    )
    stats = docs.filter(F.col("source") != EVAL_SOURCE).selectExpr(
        "*", *[e for e in _stats_exprs("spark") if e != "doc_id"]
    )
    scored = stats.selectExpr(
        "doc_id",
        "text",
        f"{_quality_expr()} AS quality",
        f"{_toks('spark')} AS toks",
    ).selectExpr("doc_id", "quality", "toks", f"{bg} AS bg")
    gated = (
        scored.selectExpr(
            "doc_id",
            "quality",
            "toks",
            "size(bg) AS n_bigrams",
            "size(bg) - size(array_distinct(bg)) AS n_dup",
            "array_max(transform(array_distinct(bg), b -> size(filter(bg, x -> x = b)))) AS top_c",
        )
        .filter(
            f"n_bigrams > 0 AND CAST(n_dup AS DOUBLE) / n_bigrams <= {DUP_BIGRAM_MAX} "
            f"AND CAST(top_c AS DOUBLE) / n_bigrams <= {TOP_BIGRAM_MAX}"
        )
        .filter(F.expr(f"quality >= {QUALITY_MIN}"))
    )
    grams = gated.selectExpr(
        "doc_id", "quality", f"{_kgram_expr('spark', DECONTAM_K)} AS grams"
    )
    return grams.filter(~_contaminated(F.col("grams"))).select("doc_id", "quality")

def streaming_curation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: run the stateless curation filter as a
    real stream (documents delivered as ascending ``doc_id`` ranges) and
    return the admitted (doc_id, quality) rows. Oracle-checkable because
    the filter is stateless: its output is exactly the batch gate
    composition regardless of chunking (pinned by the batch≡stream
    test).

    The eval-gram set is collected once on the driver (the eval split is
    a benchmark — small by construction) and broadcast, mirroring a
    production deployment where the contamination set is a side input.
    """
    from ..functions.text import DECONTAM_K, EVAL_SOURCE, _kgram_expr, _toks

    docs = load_table(spark, sf_dir, "documents")
    eval_grams = frozenset(
        g
        for r in docs.filter(F.col("source") == EVAL_SOURCE)
        .selectExpr(f"{_toks('spark')} AS toks")
        .selectExpr(f"{_kgram_expr('spark', DECONTAM_K)} AS grams")
        .collect()
        for g in r.grams
    )
    with _range_chunked_stream(spark, docs, "doc_id") as stream:
        out = run_stream_to_memory(
            streaming_curation_filter(stream, eval_grams), "append", spark
        )
    return out.orderBy("doc_id")

def streaming_curation_sql() -> str:
    """DuckDB oracle for the streaming curation filter: the batch gate
    composition (quality >= min AND repetition keep AND not
    contaminated) over the training-side documents."""
    from ..functions.text import (
        decontaminate_sql,
        _quality_expr,
        repetition_filter_sql,
        _stats_exprs,
    )
    from ..plans.curation import QUALITY_MIN

    rep = repetition_filter_sql("duckdb").replace("ORDER BY doc_id", "")
    dec = decontaminate_sql("duckdb").replace("ORDER BY d.doc_id", "")
    stats = ", ".join(_stats_exprs("duckdb"))
    return f"""
WITH rep AS ({rep}),
dec AS ({dec}),
scored AS (
  SELECT doc_id, {_quality_expr()} AS quality
  FROM (SELECT {stats} FROM documents))
SELECT s.doc_id, s.quality
FROM scored s
JOIN rep r ON r.doc_id = s.doc_id AND r.keep
JOIN dec c ON c.doc_id = s.doc_id AND NOT c.contaminated
WHERE s.quality >= {QUALITY_MIN}
ORDER BY s.doc_id
"""

def streaming_query_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper for the CORE aggregation (A1-A7) as a REAL
    stream: events delivered as ascending time ranges, the grouping-set +
    windowed dedup-count pipeline run in UPDATE mode (the reference's
    flush-every-interval behavior), and the update log collapsed to
    final state per key.

    Oracle-checkable against the BATCH clientQuery SQL because per-key
    updates are monotone — ``counter`` (a sum) only grows and
    ``queryTime`` (a min) only shrinks — so max/min over a key's update
    history IS its final state, independent of trigger boundaries. The
    30-day watermark keeps every window in state for the whole bounded
    run (eviction semantics are pinned separately by the TTL tests);
    production uses the default 10-minute watermark.
    """
    from ..operators.dns_pipeline import QUERY_KEYS, client_query_table
    from ..sources.events import dns_query_stream

    ev = load_table(spark, sf_dir, "events")
    with _range_chunked_stream(spark, ev, "ts") as stream:
        q = dns_query_stream(spark, "", events=stream).withWatermark("queryTime", "30 days")
        updates = run_stream_to_memory(client_query_table(spark, "", queries=q), "update", spark)
    return (
        updates.groupBy("windowStart", *QUERY_KEYS)
        .agg(
            F.min("queryTime").alias("queryTime"),
            F.max("counter").alias("counter"),
        )
        .orderBy("windowStart", *QUERY_KEYS)
    )

def streaming_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper for exact dedup under REDELIVERY: the
    events table is delivered TWICE (two micro-batches with the same
    rows — the at-least-once failure mode the reference's retry queue
    creates, clickhouse.go:361-412), and
    ``dropDuplicatesWithinWatermark`` must collapse the stream back to
    exactly the table. Oracle: the plain events projection — a hash
    match proves the duplicate copy was fully absorbed, not just that
    rows came out.

    All copies of a key are identical rows, so keep-first semantics are
    deterministic regardless of delivery order.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    copies = ev.withColumn("delivery", F.explode(F.array(F.lit(0), F.lit(1))))
    with _chunked_file_stream(spark, copies, "delivery", 2) as stream:
        deduped = streaming_exact_dedup(stream.drop("delivery"), ("event_id",), "ts")
        out = run_stream_to_memory(deduped, "append", spark)
    return out.orderBy("event_id")

def streaming_dedup_sql() -> str:
    return "SELECT event_id, ts, user_id FROM events ORDER BY event_id"

# ------------------------------------------ ordered micro-batch delivery

STREAM_CHUNKS = 4  # micro-batches every chunk-delivered entry replays its table in

def _chunked_file_stream(spark: SparkSession, df: DataFrame, chunk_expr: str, n_chunks: int):
    """Context manager: deliver ``df`` as ``n_chunks`` ORDERED
    micro-batches through a temp-dir file stream; yields the
    ``readStream`` DataFrame (one file per trigger).

    The file source orders by mtime; rapid appends could tie and fall
    back to (random uuid) path order, so each chunk's files get an
    EXPLICIT strictly increasing mtime — batch order is deterministic
    by construction. ``chunk_expr`` is any int-valued SQL expression
    over ``df``'s columns assigning each row to a chunk in
    ``[0, n_chunks)``."""
    import contextlib
    import glob
    import os
    import shutil
    import tempfile
    import time

    @contextlib.contextmanager
    def cm():
        d = tempfile.mkdtemp(prefix="chunk_stream_")
        try:
            base_t = time.time()
            seen: set = set()
            for i in range(n_chunks):
                df.filter(F.expr(f"({chunk_expr}) = {i}")).coalesce(1).write.mode(
                    "append"
                ).parquet(d)
                for p in glob.glob(os.path.join(d, "part-*")):
                    if p not in seen:
                        seen.add(p)
                        os.utime(p, (base_t + 10 * i, base_t + 10 * i))
            yield (
                spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(d)
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    return cm()

def _range_chunked_stream(spark: SparkSession, df: DataFrame, key: str):
    """:func:`_chunked_file_stream` over ``STREAM_CHUNKS`` equal-width
    ranges of ``key`` (a timestamp such as ``ts``, or an integer id such
    as ``doc_id`` / ``event_id``), delivered in ascending key order — the
    ordered-prefix delivery that makes the stateful entries
    deterministic by construction. Raises on an empty frame: there is no
    range to chunk, and interpolating a NULL min/max would build
    unparsable SQL."""
    k = f"unix_micros({key})" if isinstance(df.schema[key].dataType, TimestampType) else key
    mn, mx = df.agg(F.min(F.expr(k)), F.max(F.expr(k))).collect()[0]
    if mn is None:
        raise ValueError(f"cannot range-chunk an empty frame on {key}")
    n = STREAM_CHUNKS
    chunk = f"CAST(({k} - {mn}) * {n} div ({mx} - {mn} + 1) AS INT)"
    return _chunked_file_stream(spark, df, chunk, n)

# --------------------------------------------- watermark late-data drops

LATE_WATERMARK = "3 days"

def streaming_late_data_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics, driver-verified: events are
    delivered in ``STREAM_CHUNKS`` micro-batches keyed by ``event_id %
    STREAM_CHUNKS`` — each batch spans the full 30-day corpus, so after
    batch 0 the watermark jumps to (corpus max − 3 days) and every later
    batch's rows for hour windows that closed before it MUST be dropped
    by the windowed aggregation. The oracle replays Spark's documented
    rule exactly: watermark before batch b = max event time of batches
    < b minus the delay (updated at batch completion, effective next
    batch); a row survives iff its window end is above that watermark.

    Chunk assignment (id mod), delivery order (ascending append,
    maxFilesPerTrigger=1), and the drop predicate are all deterministic,
    so the update log collapsed per key (counts/sums are monotone)
    hash-matches the oracle — certifying the ONE streaming semantic the
    other entries don't: state eviction actually discarding late rows
    (reference analogue: the TTL eviction F8, aggregator.go flush
    windows).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    with _chunked_file_stream(
        spark, ev, f"event_id % {STREAM_CHUNKS}", STREAM_CHUNKS
    ) as stream:
        agg = (
            stream.withWatermark("ts", LATE_WATERMARK)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_e2"),
            )
            .select(
                F.col("window.start").alias("windowStart"),
                "event_type",
                "n",
                F.col("sum_e2").cast("long").alias("sum_e2"),
            )
        )
        updates = run_stream_to_memory(agg, "update", spark)
        # update-log collapse: counts and (non-negative) sums are monotone
        return (
            updates.groupBy("windowStart", "event_type")
            .agg(F.max("n").alias("n"), F.max("sum_e2").alias("sum_e2"))
            .orderBy("windowStart", "event_type")
        )

def streaming_late_data_sql() -> str:
    secs = 3 * 86400  # LATE_WATERMARK in seconds
    return f"""
WITH x AS (
  SELECT ts, event_type, CAST(round(value * 100) AS BIGINT) AS ve2,
         CAST(event_id % {STREAM_CHUNKS} AS BIGINT) AS chunk
  FROM events),
chunk_max AS (
  -- Spark tracks event-time stats in MILLISECONDS: the watermark is
  -- floor_ms(max event time) − delay, so the max is truncated to ms
  -- BEFORE the subtraction (an event with sub-ms precision just under
  -- an eviction boundary would otherwise flip the comparison).
  SELECT chunk, (epoch_us(max(ts)) // 1000) * 1000 AS mx_us FROM x GROUP BY chunk),
wm AS (
  -- Watermark APPLIED to batch b's input. Empirically pinned (progress
  -- log + key-set equality): the late filter in batch b uses the
  -- watermark derived from batches <= b-2 — one batch LATER than the
  -- value the progress line reports for b (Spark advances the
  -- watermark from a batch's max event time only when PLANNING the
  -- batch after next). Hence "2 PRECEDING", not 1.
  SELECT chunk,
         max(mx_us) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - CAST({secs} AS BIGINT) * 1000000 AS watermark_us
  FROM chunk_max),
kept AS (
  SELECT x.ts, x.event_type, x.ve2
  FROM x JOIN wm ON wm.chunk = x.chunk
  WHERE wm.watermark_us IS NULL
     OR epoch_us(date_trunc('hour', x.ts) + INTERVAL 1 HOUR) > wm.watermark_us)
SELECT date_trunc('hour', ts) AS windowStart, event_type,
       count(*) AS n, CAST(sum(ve2) AS BIGINT) AS sum_e2
FROM kept GROUP BY windowStart, event_type
ORDER BY windowStart, event_type
"""

SESSION_STREAM_GAP_S = 1800  # 30 min, matches events_analytics.SESSION_GAP_S
SESSION_STREAM_WM = "1 hour"

def streaming_session_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` as a REAL append-mode stream — the one
    stateful streaming semantic the other entries don't certify:
    cross-micro-batch session MERGING plus watermark FINALIZATION
    (append emits a session exactly once, when the watermark passes its
    end).

    Events are delivered in ``STREAM_CHUNKS`` time-ordered
    micro-batches (chunk = equal-width corpus-time range, explicit
    increasing mtimes, one file per trigger). Time-ordering makes the entry
    deterministic BY CONSTRUCTION: batch b's watermark derives from
    chunks ≤ b−2, which all end before chunk b−1 begins, so (a) no
    input row is ever late, and (b) a session spanning a chunk boundary
    cannot be finalized before its last event arrives — the emitted set
    is exactly "whole-corpus sessions whose end clears the final
    watermark", independent of chunking. The oracle is therefore
    chunk-free: gap-sessionize (the ``>=`` boundary rule pinned by the
    batch ``events_session_window`` entry) and keep sessions with
    ``end + gap <= max(ts) − watermark_delay`` (the final no-data batch
    flushes state at watermark = global max − delay; boundary pinned
    empirically as ``<=`` → strict ``<`` on the eviction compare).
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    return streaming_session_window_df(spark, ev)

def streaming_session_window_df(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Core of :func:`streaming_session_window_query` over an injected
    events frame (``event_id, ts, user_id, value``) — lets tests feed a
    corpus engineered to place sessions ACROSS chunk boundaries, where
    the cross-batch merge is observable."""
    with _range_chunked_stream(spark, ev, "ts") as stream:
        sessions = (
            stream.withWatermark("ts", SESSION_STREAM_WM)
            .groupBy(
                "user_id",
                F.session_window("ts", f"{SESSION_STREAM_GAP_S} seconds"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_e2"),
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("sessionStart"),
                F.col("session_window.end").alias("sessionEnd"),
                "n",
                F.col("sum_e2").cast("long").alias("sum_e2"),
            )
        )
        return run_stream_to_memory(sessions, "append", spark).orderBy(
            "user_id", "sessionStart"
        )

def streaming_session_window_sql() -> str:
    gap_us = SESSION_STREAM_GAP_S * 1_000_000
    wm_us = 3600 * 1_000_000  # SESSION_STREAM_WM
    return f"""
WITH x AS (
  SELECT user_id, ts, epoch_us(ts) AS tus, CAST(round(value * 100) AS BIGINT) AS ve2,
         event_id
  FROM events),
lagged AS (
  SELECT *, CAST(prev IS NULL OR tus - prev >= {gap_us} AS BIGINT) AS new_s
  FROM (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM x)),
numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM lagged),
sessions AS (
  SELECT user_id, min(ts) AS sessionStart,
         max(ts) + INTERVAL {SESSION_STREAM_GAP_S} SECOND AS sessionEnd,
         max(tus) + {gap_us} AS end_us,
         count(*) AS n, CAST(sum(ve2) AS BIGINT) AS sum_e2
  FROM numbered GROUP BY user_id, sid)
SELECT user_id, sessionStart, sessionEnd, n, sum_e2
-- ms truncation: Spark's watermark is floor_ms(max event time) − delay
-- (event-time stats are millisecond-granular), so the finalization cut
-- truncates the corpus max to ms before subtracting.
FROM sessions, (SELECT (max(tus) // 1000) * 1000 AS mx FROM x)
WHERE end_us <= mx - {wm_us}
ORDER BY user_id, sessionStart
"""

SJOIN_WM_S = 600  # watermark delay; == the J1 10-minute interval bound
SJOIN_WM = f"{SJOIN_WM_S} seconds"  # join bound comes from AggregatorConfig.max_response_delay

def streaming_response_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J1 query↔response match as a REAL stream-stream inner join —
    two watermarked streams (both derived from one time-ordered chunked
    file source), equi-keyed on the 4-part DNS key with the
    ``[qt, qt+10min]`` range as the join condition. This certifies the
    remaining core Structured Streaming operator the batch J1 flavors
    don't: symmetric join STATE — each side buffers rows until the other
    side's watermark passes the time bound, then evicts.

    Determinism by construction (same argument as the session-window
    entry): chunks partition event TIME, so batch b's watermark (from
    chunks ≤ b−2) is always below every arriving row (nothing is late),
    and a buffered query row becomes evictable only when
    ``wm > qt + 10min`` — at which point every response that could match
    it (rt ≤ qt+10min < wm) has already arrived in an earlier chunk. No
    match can be missed, so the emitted set equals the BATCH interval
    join exactly and the oracle is the existing J1 SQL — while the
    execution path (state buffering + eviction across 4 micro-batches)
    is the one a 100 TB streaming deployment runs.
    """
    return streaming_response_join_df(spark, load_table(spark, sf_dir, "events"))

def streaming_response_join_df(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Core of :func:`streaming_response_join_query` over an injected
    events frame — lets tests engineer a query/response pair that
    straddles a chunk boundary, where the symmetric join state's
    cross-batch buffering is observable."""
    with _range_chunked_stream(spark, ev, "ts") as stream:
        joined = streaming_response_time_join(stream, watermark=SJOIN_WM)
        return run_stream_to_memory(joined, "append", spark).orderBy(
            "responseTime", "identity", "delta_us"
        )

def streaming_response_join_sql() -> str:
    from ..operators.join import match_response_times_sql
    from ..sources.events import PAIR_QUERY_SQL, PAIR_RESPONSE_SQL

    inner = match_response_times_sql(PAIR_QUERY_SQL, PAIR_RESPONSE_SQL)
    return f"SELECT * FROM ({inner})\nORDER BY responseTime, identity, delta_us"

def _pair_join_inputs(stream: DataFrame, watermark: str, max_delay: str):
    """(q, r, cond, pair): the pair streams of ``stream``, each with
    ``watermark``, aliased ``q`` and ``r``, plus the J1 predicate and
    projection (``_j1_pair``) with bound ``max_delay`` — shared by the
    inner, left-outer and full-outer stream-stream joins."""
    q, r = dns_pair_streams(stream.sparkSession, "", events=stream)
    q = q.withWatermark("queryTime", watermark).alias("q")
    r = r.withWatermark("responseTime", watermark).alias("r")
    return (q, r, *_j1_pair(max_delay))

def _sjoin_oracle_parts() -> tuple[str, str, str]:
    """(on, interval_pred, wm_cte): the shared oracle text for the
    outer-join entries — one definition of the join keys, the interval
    bound, and the combined-watermark rule (min over both sides of
    floor_ms(own max) − delay; NULL when a side is empty, because that
    side's Spark watermark never leaves epoch 0 and nothing evicts)."""
    from ..operators.join import JOIN_KEYS as JK

    on = " AND ".join(f"q.{k} = r.{k}" for k in JK)
    interval = (
        "r.responseTime >= q.queryTime\n"
        f"   AND r.responseTime <= q.queryTime + INTERVAL '{SJOIN_WM}'"
    )
    wm_us = SJOIN_WM_S * 1_000_000
    wm = f"""SELECT CASE WHEN qm.v IS NULL OR rm.v IS NULL THEN NULL
              ELSE least(qm.v, rm.v) - {wm_us} END AS w
       FROM (SELECT (max(epoch_us(queryTime)) // 1000) * 1000 AS v FROM q) qm
       CROSS JOIN (SELECT (max(epoch_us(responseTime)) // 1000) * 1000 AS v FROM r) rm"""
    return on, interval, wm

def streaming_outer_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J1 match as a stream-stream LEFT OUTER join — the one
    Structured Streaming join semantic ``streaming_response_join``
    (inner) leaves uncertified: NULL-extended emission of UNMATCHED
    left rows at state eviction.

    A query row with no matching response cannot emit when it arrives
    (a match might still come); Spark buffers it and emits the
    NULL-extended row only once the watermark proves no response in
    ``[qt, qt+10min]`` can arrive — i.e. when the final watermark
    ``floor_ms(max event time) − delay`` has passed ``qt + 10min``
    (strict >, pinned by the fixture test; unmatched queries younger
    than that are withheld in state, exactly as a live deployment would
    hold them). Matched pairs emit as in the inner entry and by the
    time-ordered-delivery argument equal the batch interval join, so
    the oracle is the batch J1 SQL UNION ALL the batch anti-join rows
    that clear the eviction cut — the eviction rule itself is part of
    the hash.

    Unmatched rows carry ``delta_us = -1`` (not NULL: the sentinel
    keeps the column non-null so row sorting is engine-independent).
    """
    return streaming_outer_join_df(spark, load_table(spark, sf_dir, "events"))

def streaming_outer_join_df(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Core of :func:`streaming_outer_join_query` over an injected
    events frame (fixture tests engineer boundary-straddling rows)."""
    with _range_chunked_stream(spark, ev, "ts") as stream:
        q, r, cond, _ = _pair_join_inputs(stream, SJOIN_WM, SJOIN_WM)
        joined = q.join(r, cond, "leftOuter").select(
            F.col("q.queryTime").alias("queryTime"),
            F.col("q.identity").alias("identity"),
            F.coalesce(
                F.unix_micros("r.responseTime") - F.unix_micros("q.queryTime"),
                F.lit(-1),
            ).alias("delta_us"),
        )
        return run_stream_to_memory(joined, "append", spark).orderBy(
            "queryTime", "identity", "delta_us"
        )

def streaming_outer_join_sql() -> str:
    from ..sources.events import PAIR_QUERY_SQL, PAIR_RESPONSE_SQL

    on, interval, wm = _sjoin_oracle_parts()
    wm_us = SJOIN_WM_S * 1_000_000
    # watermark rule rationale lives on _sjoin_oracle_parts
    return f"""
WITH q AS ({PAIR_QUERY_SQL}), r AS ({PAIR_RESPONSE_SQL}),
matched AS (
  SELECT q.queryTime, q.identity,
         epoch_us(r.responseTime) - epoch_us(q.queryTime) AS delta_us
  FROM q JOIN r ON {on}
   AND {interval}),
wm AS ({wm}),
unmatched AS (
  SELECT q.queryTime, q.identity, CAST(-1 AS BIGINT) AS delta_us
  FROM q CROSS JOIN wm
  WHERE NOT EXISTS (
    SELECT 1 FROM r WHERE {on}
      AND {interval})
    AND wm.w > epoch_us(q.queryTime) + {wm_us})
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
ORDER BY queryTime, identity, delta_us
"""

def streaming_full_outer_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J1 match as a stream-stream FULL OUTER join — completes the
    join-semantics matrix (inner: ``streaming_response_join``; left
    outer: ``streaming_outer_join``) with the remaining emission rule:
    NULL-extended rows for BOTH unmatched sides, each at its OWN
    eviction cut.

    The two cuts are asymmetric because the interval condition is:
    a query (left) row can only stop matching once the watermark passes
    ``qt + bound`` (responses up to that time could still arrive), while
    a response (right) row matches only queries with ``qt ∈ [rt − bound,
    rt]`` — queries later than ``rt`` never match it, so it finalizes as
    soon as the watermark passes ``rt`` itself. Both cuts are STRICT
    (pinned by the fixture test via whole-ms boundary rows, like the
    left-outer entry), against the same combined watermark: min over
    both sides of floor_ms(that side's own max event time) − delay,
    NULL (no eviction) if either side is empty.

    Output: one row per match plus one per finalized orphan;
    ``kind`` ∈ {{match, orphan_query, orphan_response}}, ``delta_us`` =
    −1 sentinel on orphan rows, ``t`` = the surviving side's event time.
    """
    return streaming_full_outer_join_df(spark, load_table(spark, sf_dir, "events"))

def streaming_full_outer_join_df(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Core of :func:`streaming_full_outer_join_query` over an injected
    events frame (fixture tests engineer per-side boundary rows)."""
    with _range_chunked_stream(spark, ev, "ts") as stream:
        q, r, cond, _ = _pair_join_inputs(stream, SJOIN_WM, SJOIN_WM)
        joined = q.join(r, cond, "fullOuter").select(
            F.coalesce(F.col("q.queryTime"), F.col("r.responseTime")).alias("t"),
            F.coalesce(F.col("q.identity"), F.col("r.identity")).alias("identity"),
            F.coalesce(
                F.unix_micros("r.responseTime") - F.unix_micros("q.queryTime"),
                F.lit(-1),
            ).alias("delta_us"),
            F.when(
                F.col("q.queryTime").isNull(), F.lit("orphan_response")
            ).when(F.col("r.responseTime").isNull(), F.lit("orphan_query"))
            .otherwise(F.lit("match"))
            .alias("kind"),
        )
        return run_stream_to_memory(joined, "append", spark).orderBy(
            "t", "identity", "delta_us", "kind"
        )

def streaming_full_outer_join_sql() -> str:
    from ..sources.events import PAIR_QUERY_SQL, PAIR_RESPONSE_SQL

    on, interval, wm = _sjoin_oracle_parts()
    wm_us = SJOIN_WM_S * 1_000_000
    return f"""
WITH q AS ({PAIR_QUERY_SQL}), r AS ({PAIR_RESPONSE_SQL}),
matched AS (
  SELECT q.queryTime AS t, q.identity,
         epoch_us(r.responseTime) - epoch_us(q.queryTime) AS delta_us,
         'match' AS kind
  FROM q JOIN r ON {on}
   AND {interval}),
wm AS ({wm}),
orphan_q AS (
  SELECT q.queryTime AS t, q.identity, CAST(-1 AS BIGINT) AS delta_us,
         'orphan_query' AS kind
  FROM q CROSS JOIN wm
  WHERE NOT EXISTS (
    SELECT 1 FROM r WHERE {on}
      AND {interval})
    AND wm.w > epoch_us(q.queryTime) + {wm_us}),
orphan_r AS (
  SELECT r.responseTime AS t, r.identity, CAST(-1 AS BIGINT) AS delta_us,
         'orphan_response' AS kind
  FROM r CROSS JOIN wm
  WHERE NOT EXISTS (
    SELECT 1 FROM q WHERE {on}
      AND {interval})
    AND wm.w > epoch_us(r.responseTime))
SELECT * FROM matched
UNION ALL SELECT * FROM orphan_q
UNION ALL SELECT * FROM orphan_r
ORDER BY t, identity, delta_us, kind
"""


# ---------------------------------------------- streaming hopping window

HOP_WINDOW_S = 3600  # 1-hour windows ...
HOP_SLIDE_S = 900  # ... sliding every 15 min => each event in 4 windows
HOP_WM_S = 3600  # watermark delay


def streaming_hopping_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows as a REAL append-mode stream —
    completes the streaming windowing matrix next to the tumbling
    (`streaming_late_data`) and session (`streaming_session_window`)
    entries: one event feeds ``window/slide`` = 4 overlapping windows'
    state, and append mode emits each window exactly once when the
    watermark passes its end.

    Delivery is the shared time-ordered range chunking, so no input
    row is ever late and the emitted set is chunk-independent: exactly
    the epoch-aligned hopping windows whose end clears the final
    watermark (floor_ms(corpus max) − delay — the session entry's
    empirically pinned rule, same ``<=`` boundary). The oracle
    enumerates each event's 4 containing windows by integer epoch
    arithmetic (Spark aligns hopping windows to the epoch) and replays
    the finalization cut. Reference analogue: A6/A7 flush windows
    generalized to overlapping panes.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    return streaming_hopping_window_df(spark, ev)


def streaming_hopping_window_df(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Core of :func:`streaming_hopping_window_query` over an injected
    events frame (``event_id, ts, event_type, value``) — lets tests
    place one window's events across a chunk boundary, where the
    cross-batch pane merge is observable."""
    with _range_chunked_stream(spark, ev, "ts") as stream:
        agg = (
            stream.withWatermark("ts", f"{HOP_WM_S} seconds")
            .groupBy(
                F.window("ts", f"{HOP_WINDOW_S} seconds", f"{HOP_SLIDE_S} seconds"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_e2"),
            )
            .select(
                F.col("window.start").alias("windowStart"),
                "event_type",
                "n",
                F.col("sum_e2").cast("long").alias("sum_e2"),
            )
        )
        return run_stream_to_memory(agg, "append", spark).orderBy(
            "windowStart", "event_type"
        )


def streaming_hopping_window_sql() -> str:
    slide_us = HOP_SLIDE_S * 1_000_000
    win_us = HOP_WINDOW_S * 1_000_000
    wm_us = HOP_WM_S * 1_000_000
    n_hops = HOP_WINDOW_S // HOP_SLIDE_S
    ks = ", ".join(str(k) for k in range(n_hops))
    return f"""
WITH x AS (
  SELECT epoch_us(ts) AS tus, event_type,
         CAST(round(value * 100) AS BIGINT) AS ve2
  FROM events),
hops AS (SELECT CAST(unnest([{ks}]) AS BIGINT) AS k),
w AS (
  SELECT (tus // {slide_us}) * {slide_us} - k * {slide_us} AS ws_us, event_type, ve2
  FROM x CROSS JOIN hops),
agg AS (
  SELECT ws_us, event_type, count(*) AS n, CAST(sum(ve2) AS BIGINT) AS sum_e2
  FROM w GROUP BY ws_us, event_type),
mx AS (SELECT (max(tus) // 1000) * 1000 AS mxus FROM x)
SELECT make_timestamp(ws_us) AS windowStart, event_type, n, sum_e2
FROM agg, mx
WHERE ws_us + {win_us} <= mxus - {wm_us}
ORDER BY windowStart, event_type
"""


# ------------------------------------------- stream-static enrichment


def streaming_static_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the most common production streaming shape
    (an event stream enriched against a slowly-changing dimension) and
    the one join flavor the stream-stream matrix doesn't cover: events
    arrive in ``STREAM_CHUNKS`` time-ordered micro-batches and every
    batch joins the STATIC customer dimension (user_id = c_custkey) to
    attach the market segment; per-segment counts and exact value sums
    are then aggregated batch-side over the append output.

    Semantics certified by the oracle: a stream-static equi-join is
    STATELESS (each micro-batch joins the dimension snapshot
    independently — no watermark, no buffered state), so the appended
    output is exactly the batch join regardless of chunking; the
    aggregate therefore hash-matches the batch SQL. Scale: the
    dimension side is explicitly ``F.broadcast`` (a dimension that fits
    executors — the 100 TB fact stream never shuffles for the join);
    the per-segment rollup is one O(segments) aggregate. Sums are exact
    e2 integers (value is a 2-decimal double), so the hash is
    order-independent. Reference analogue: the identity/rcode
    enrichment the reference does row-side (prep P2-P4) generalized to
    a keyed dimension table.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    with _range_chunked_stream(spark, ev, "ts") as stream:
        enriched = stream.join(F.broadcast(dim), "user_id").select(
            "segment",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("value_e2"),
        )
        out = run_stream_to_memory(enriched, "append", spark)
    return (
        out.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_events"),
            F.sum("value_e2").alias("value_e2_sum"),
        )
        .orderBy("segment")
    )


def streaming_static_enrich_sql() -> str:
    """Oracle: the batch equi-join + rollup (stateless stream == batch)."""
    return """
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_distinct_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_e2_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY segment
"""


# ------------------------------------------------ streaming CDC apply


def streaming_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING flavor of `events_upsert_merge`: a CDC change log
    (every event is an upsert of its user's row, value cents-scaled)
    arrives as ``STREAM_CHUNKS`` time-ordered micro-batches, and the
    materialized key→state table keeps each user's last change by
    (ts_us, event_id) and the change count.

    This is :func:`streaming_tombstone_apply`'s merge loop with the
    delete columns projected away. The projection is exact because
    ``event_id`` is unique: both argmax structs lead with
    ``(ts_us, event_id)``, so the tombstone struct's ``del`` field never
    breaks a tie and the winning change is the same row.
    """
    return streaming_tombstone_apply(spark, sf_dir).select(
        "user_id", "last_ts_us", "last_event_id", "last_ve2", "n_changes"
    )


def streaming_upsert_apply_sql() -> str:
    """Oracle: the one-shot batch argmax MERGE (chunk-free — see the
    semilattice argument in the entry docstring)."""
    return """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS ve2
  FROM events),
last AS (
  SELECT user_id, max({'u': us, 'e': event_id, 'v': ve2}) AS m,
         CAST(count(*) AS BIGINT) AS n
  FROM c GROUP BY user_id)
SELECT user_id,
       (m).u AS last_ts_us,
       (m).e AS last_event_id,
       (m).v AS last_ve2,
       n AS n_changes
FROM last ORDER BY user_id
"""


# ------------------------------------------- streaming tombstone apply

def _tombstone_batch_last(batch: DataFrame) -> DataFrame:
    """Per-key partial: argmax change by (ts_us, event_id), carrying a
    delete flag ('error' events are tombstones) + op counters."""
    return (
        batch.selectExpr(
            "user_id",
            "named_struct('u', unix_micros(ts), 'e', event_id,"
            " 'del', event_type = 'error',"
            " 'v', CAST(round(value * 100) AS BIGINT)) AS m",
            "CAST(event_type = 'error' AS BIGINT) AS is_del",
        )
        .groupBy("user_id")
        .agg(
            F.expr("max(m)").alias("m"),
            F.count(F.lit(1)).alias("n"),
            F.sum("is_del").alias("nd"),
        )
        .selectExpr("user_id", "m.u AS us", "m.e AS eid",
                    "m.del AS del", "m.v AS ve2", "n", "nd")
    )


def streaming_tombstone_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply WITH DELETES — the ClickHouse
    ``ReplacingMergeTree(ver, is_deleted)`` contract (the reference's
    target store offers exactly this table engine) run as a real
    incremental stream: 'error' events are tombstones, and the change
    log arrives as ``STREAM_CHUNKS`` time-ordered micro-batches. A
    ``foreachBatch`` loop maintains the materialized key→state table on
    storage: per batch, ONE key-equi full-outer MERGE of the previous
    state with the batch's per-key argmax partial, written to a fresh
    state version. This is the Delta/Iceberg ``MERGE INTO`` maintenance
    loop run as a real incremental stream: history is never re-read,
    each batch touches state ∪ batch only. Final read emits every key
    with its last-writer state and the ``deleted`` flag (the FINAL-row
    semantics ClickHouse's engine applies at merge time), plus change
    and tombstone counters.

    Why the oracle is chunk-free: the winning (ts_us, event_id) row's
    delete flag rides INSIDE the argmax struct, so last-writer-wins is
    an associative-commutative argmax semilattice and the counters are
    sums; merging per-batch partials equals the one-shot batch MERGE
    for ANY chunking — certified by delivering real micro-batches and
    hash-matching the batch argmax SQL (a chunking test pins 1-chunk ≡
    4-chunk). Scale shape: per batch one key-keyed equi-join shuffle;
    state is key-domain-sized; the flag adds zero shuffle width beyond
    one boolean.
    """
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="tombstone_state_")
    holder = {"dir": None}
    try:

        def handle(batch: DataFrame, epoch: int) -> None:
            bl = _tombstone_batch_last(batch)
            if holder["dir"] is not None:
                state = spark.read.parquet(holder["dir"])
                merged = (
                    state.alias("s")
                    .join(bl.alias("b"), "user_id", "full_outer")
                    .selectExpr(
                        "user_id",
                        "greatest("
                        " named_struct('u', coalesce(s.us, CAST(-1 AS BIGINT)),"
                        "              'e', coalesce(s.eid, CAST(-1 AS BIGINT)),"
                        "              'del', coalesce(s.del, FALSE),"
                        "              'v', coalesce(s.ve2, CAST(0 AS BIGINT))),"
                        " named_struct('u', coalesce(b.us, CAST(-1 AS BIGINT)),"
                        "              'e', coalesce(b.eid, CAST(-1 AS BIGINT)),"
                        "              'del', coalesce(b.del, FALSE),"
                        "              'v', coalesce(b.ve2, CAST(0 AS BIGINT)))"
                        ") AS m",
                        "coalesce(s.n, CAST(0 AS BIGINT))"
                        " + coalesce(b.n, CAST(0 AS BIGINT)) AS n",
                        "coalesce(s.nd, CAST(0 AS BIGINT))"
                        " + coalesce(b.nd, CAST(0 AS BIGINT)) AS nd",
                    )
                    .selectExpr("user_id", "m.u AS us", "m.e AS eid",
                                "m.del AS del", "m.v AS ve2", "n", "nd")
                )
            else:
                merged = bl
            new_dir = os.path.join(root, f"v{epoch}")
            merged.write.parquet(new_dir)
            old = holder["dir"]
            holder["dir"] = new_dir
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)

        with _range_chunked_stream(spark, ev, "ts") as stream:
            q = (
                stream.writeStream.foreachBatch(handle)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        final = (
            spark.read.parquet(holder["dir"])
            .selectExpr(
                "user_id",
                "us AS last_ts_us",
                "eid AS last_event_id",
                "del AS deleted",
                "ve2 AS last_ve2",
                "n AS n_changes",
                "nd AS n_tombstones",
            )
        )
        return materialize_scan(spark, final, "cdc_final_tombstone").orderBy("user_id")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def streaming_tombstone_apply_sql() -> str:
    """Oracle: one-shot batch argmax with the flag inside the struct
    (chunk-free by the semilattice argument)."""
    return """
WITH c AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         event_type = 'error' AS del,
         CAST(round(value * 100) AS BIGINT) AS ve2
  FROM events),
last AS (
  SELECT user_id,
         max({'u': us, 'e': event_id, 'del': del, 'v': ve2}) AS m,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS nd
  FROM c GROUP BY user_id)
SELECT user_id,
       (m).u AS last_ts_us,
       (m).e AS last_event_id,
       (m).del AS deleted,
       (m).v AS last_ve2,
       n AS n_changes,
       nd AS n_tombstones
FROM last ORDER BY user_id
"""
