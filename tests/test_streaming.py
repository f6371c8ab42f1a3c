"""The streaming family.

- Batch == stream equality: the batch builders run over a stream must
  produce exactly the batch results once all input is processed
  (Structured Streaming's correctness story, SURVEY.md section 5).
- Ordered delivery: ``_range_chunked_stream`` replays a table as one
  micro-batch per key range, in key order.
- Streaming sinks, redelivery dedup, checkpoint restart, session windows
  and the stateless curation filter.
- The chunk-delivered contract entries on engineered frames: late-data
  drops, session and hopping windows, the inner / outer / full-outer
  stream-stream joins, stream-static enrichment, and the CDC apply loop.
- The A11 stats listener.
"""

from __future__ import annotations

import datetime
import itertools
import os
import shutil
import tempfile
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from dnstap2clickhouse_spark import streaming as st
from dnstap2clickhouse_spark.__main__ import CHUNK_SCHEMA, _mapped_writer, build_streams, read_output_table
from dnstap2clickhouse_spark.config import AggregatorConfig, EngineConfig
from dnstap2clickhouse_spark.operators import dns_pipeline as dp
from dnstap2clickhouse_spark.operators.join import match_response_times
from dnstap2clickhouse_spark.sources.events import (
    dns_pair_streams,
    dns_query_stream,
    dns_response_stream,
)
from dnstap2clickhouse_spark.sources.tables import load_table
from dnstap2clickhouse_spark.streaming import pipeline as stp
from dnstap2clickhouse_spark.streaming.stats import EngineStatsListener, stats_intervals

SF = "/root/testdata/sf0.001"
WATERMARK = "10 minutes"

@pytest.fixture(scope="module")
def events_stream(spark):
    """events replayed as ``STREAM_CHUNKS`` ordered event_id-range
    micro-batches (event time rises with event_id)."""
    with stp._range_chunked_stream(spark, load_table(spark, SF, "events"), "event_id") as stream:
        yield stream

def _passthrough(stream):
    """A8 (aggregate=false): the batch clientResponse builder over a
    stream -- raw non-OK response rows, no state at all."""
    r = dns_response_stream(stream.sparkSession, "", events=stream)
    return dp.client_response_table(
        stream.sparkSession, "", AggregatorConfig(aggregate=False), responses=r
    )

def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())

def test_stream_query_agg_equals_batch(spark, events_stream):
    q = dns_query_stream(spark, "", events=events_stream)
    sdf = dp.client_query_table(spark, "", queries=q.withWatermark("queryTime", WATERMARK))
    mem = st.run_stream_to_memory(sdf, "update", spark)
    # update mode appends every refinement; last write per key is final
    final = mem.groupBy("windowStart", *dp.QUERY_KEYS).agg(
        {"counter": "max", "queryTime": "min"}
    ).withColumnRenamed("max(counter)", "counter").withColumnRenamed(
        "min(queryTime)", "queryTime"
    )
    batch = dp.client_query_table(spark, SF)
    cols = ["windowStart", *dp.QUERY_KEYS, "queryTime", "counter"]
    assert _rows(final, cols) == _rows(batch, cols)

def test_stream_response_agg_equals_batch(spark, events_stream):
    r = dns_response_stream(spark, "", events=events_stream)
    sdf = dp.client_response_table(
        spark, "", responses=r.withWatermark("responseTime", WATERMARK)
    )
    mem = st.run_stream_to_memory(sdf, "update", spark)
    final = mem.groupBy("windowStart", *dp.RESPONSE_KEYS).agg(
        {"counter": "max", "responseTime": "min"}
    ).withColumnRenamed("max(counter)", "counter").withColumnRenamed(
        "min(responseTime)", "responseTime"
    )
    batch = dp.client_response_table(spark, SF)
    cols = ["windowStart", *dp.RESPONSE_KEYS, "responseTime", "counter"]
    assert _rows(final, cols) == _rows(batch, cols)

def test_stream_join_equals_batch(spark, events_stream):
    sdf = st.streaming_response_time_join(events_stream)
    mem = st.run_stream_to_memory(sdf, "append", spark)
    q, r = dns_pair_streams(spark, SF)
    batch = match_response_times(q, r)
    cols = ["responseTime", "identity", "delta_us"]
    assert _rows(mem, cols) == _rows(batch, cols)

def test_stream_join_then_window_avg_is_one_query(spark, events_stream):
    """A windowed aggregation after the stream-stream join runs as ONE
    append-mode availableNow query, and equals the batch
    clientQueryResponseTime table on every window the final watermark
    closed. The chunks arrive in event-time order, so no row arrives
    late."""
    from dnstap2clickhouse_spark.operators.join import avg_response_time_samples

    cfg = AggregatorConfig()
    interval = cfg.response_time_interval_s
    joined = st.streaming_response_time_join(events_stream, cfg, watermark=WATERMARK)
    sdf = avg_response_time_samples(joined, f"{interval} seconds")
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName("rt_one_query")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(timeout=120)
        got = spark.table("rt_one_query")
        wm = q.lastProgress["eventTime"]["watermark"]
        closed = F.col("windowStart") + F.expr(f"INTERVAL {interval} SECONDS") <= F.to_timestamp(F.lit(wm))
        want = dp.response_time_table(spark, SF).filter(closed)
        cols = ["windowStart", "identity", "responseTimeDelta", "nSamples"]
        assert got.count() > 0
        assert _rows(got, cols) == _rows(want, cols)
    finally:
        q.stop()
        spark.catalog.dropTempView("rt_one_query")

def test_stream_passthrough_counts(spark, events_stream):
    sdf = _passthrough(events_stream)
    mem = st.run_stream_to_memory(sdf, "append", spark)
    batch = dp.client_response_table(spark, SF, AggregatorConfig(aggregate=False))
    assert mem.count() == batch.count()
    assert mem.agg({"counter": "sum"}).first()[0] == batch.count()

def test_foreach_batch_sink_with_column_config(spark, events_stream, tmp_path):
    """The daemon's foreachBatch fan-out writes every enabled table from
    each micro-batch: K1-mapped partial counts under one ``__epoch`` per
    batch, with the window start kept as a hidden column that
    read_output_table drops."""
    out = tempfile.mkdtemp(prefix="sink_out_")
    try:
        cfg = EngineConfig()
        cfg.sink.response_columns = {
            "responseTime": "ts",
            "identity": "ident",
            "questionType": "",  # an empty physical name prunes the column (K1)
            "counter": "hits",
        }
        _, tables = build_streams(spark, cfg, str(tmp_path))  # the table builders only
        chunks = events_stream.select(  # the daemon's chunk schema; dnstap columns NULL
            *(
                F.col(f.name) if f.name in events_stream.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in CHUNK_SCHEMA
            )
        )
        q = (
            chunks.writeStream.foreachBatch(_mapped_writer(out, tables))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=120)
        written = spark.read.parquet(os.path.join(out, "clientResponse"))
        assert set(written.columns) == {"ts", "ident", "hits", "__epoch", "__windowStart"}
        assert written.count() > 0
        epochs = spark.read.parquet(os.path.join(out, "clientQuery")).select("__epoch").distinct()
        assert sorted(r[0] for r in epochs.collect()) == list(range(stp.STREAM_CHUNKS))
        got = read_output_table(spark, os.path.join(out, "clientQuery"))
        want = dp.client_query_table(spark, SF).drop("windowStart")
        assert _rows(got) == _rows(want, got.columns)
    finally:
        shutil.rmtree(out, ignore_errors=True)

def test_streaming_exact_dedup_collapses_redelivery(spark):
    """At-least-once input (every row delivered three times, within-batch
    and across batches) must collapse to exactly the batch-distinct rows."""
    batch = load_table(spark, SF, "events")
    # deliveries 0, 0, 1: duplicates both inside micro-batch 0 and across
    # the micro-batch boundary
    copies = batch.withColumn("delivery", F.explode(F.array(F.lit(0), F.lit(0), F.lit(1))))
    with stp._chunked_file_stream(spark, copies, "delivery", 2) as stream:
        sdf = st.streaming_exact_dedup(stream.drop("delivery"))
        got = st.run_stream_to_memory(sdf, "append", spark)
    assert _rows(got) == _rows(batch.select(*got.columns))

def test_checkpoint_restart_resumes_without_reprocessing(spark):
    """K4 upgrade claim (ARCHITECTURE.md): a checkpointed query restarted
    over a grown source processes only the new files — the union of both
    runs' outputs is exactly the full input, no duplicates, no loss."""
    base = tempfile.mkdtemp(prefix="ckpt_recovery_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    ev = load_table(spark, SF, "events").select("event_id", "ts", "event_type")
    half = ev.count() // 2

    def run_once():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _eid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.filter(ev.event_id < half).coalesce(1).write.mode("append").parquet(src)
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == half
    ev.filter(ev.event_id >= half).coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: must pick up ONLY the new file
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # no duplicates (old file not reprocessed)
    assert got.select("event_id").distinct().count() == ev.count()  # no loss
    shutil.rmtree(base, ignore_errors=True)

def test_streaming_session_window_append_equals_closed_batch(spark, events_stream):
    """Native session_window in a STREAM (append mode): emitted sessions
    must equal exactly the batch sessions already closed by the final
    watermark (end <= max_ts - delay); later sessions are still open."""
    gap_s, delay = 1800, "10 minutes"
    sdf = (
        events_stream.withWatermark("ts", delay)
        .groupBy("user_id", F.session_window("ts", f"{gap_s} seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
    )
    got = st.run_stream_to_memory(sdf, "append", spark)
    ev = load_table(spark, SF, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    closed = (
        ev.groupBy("user_id", F.session_window("ts", f"{gap_s} seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .filter(F.col("e") <= F.lit(max_ts) - F.expr(f"INTERVAL {delay}"))
    )
    assert _rows(got) == _rows(closed)
    assert got.count() > 0  # the stream actually emitted sessions


def test_streaming_curation_equals_batch_gates(spark):
    """The stateless streaming curation filter admits exactly the docs
    that pass the batch quality + repetition + decontamination gates."""
    from dnstap2clickhouse_spark.functions import text as ft
    from dnstap2clickhouse_spark.plans.curation import QUALITY_MIN

    docs = load_table(spark, SF, "documents")

    # eval gram set from the batch helper's own definition
    k = ft.DECONTAM_K
    eval_grams = set()
    for r in docs.filter(f"source = '{ft.EVAL_SOURCE}'").select("text").collect():
        w = r.text.split(" ")
        eval_grams |= {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    # batch expectation from the standalone batch operators
    quality = {r.doc_id: r.quality for r in ft.quality_scores(spark, SF).collect()}
    rep = {r.doc_id for r in ft.repetition_filter(spark, SF).collect() if r.keep}
    clean = {r.doc_id for r in ft.decontaminate(spark, SF).collect() if not r.contaminated}
    expect = {
        d: quality[d] for d in rep & clean if quality[d] >= QUALITY_MIN
    }

    # stream the same corpus as micro-batch chunks
    with stp._range_chunked_stream(spark, docs, "doc_id") as stream:
        out = st.run_stream_to_memory(
            st.streaming_curation_filter(stream, frozenset(eval_grams)), "append", spark
        )
    got = {r.doc_id: r.quality for r in out.collect()}
    assert got == expect


def test_streaming_agg_equals_batch_any_chunking(spark, monkeypatch):
    """The update-mode stream collapsed to final state must equal the
    batch clientQuery table regardless of micro-batch boundaries (1 chunk
    == single batch, 7 chunks == many trigger updates per key)."""
    want = sorted(
        tuple(r) for r in dp.client_query_table(spark, SF).collect()
    )
    for n_chunks in (1, 7):
        monkeypatch.setattr(stp, "STREAM_CHUNKS", n_chunks)
        got = sorted(tuple(r) for r in stp.streaming_query_agg_query(spark, SF).collect())
        assert got == want, f"n_chunks={n_chunks}: {len(got)} vs {len(want)} rows"


# ------------------------------------------------ ordered chunk delivery


@pytest.mark.parametrize(
    "table, key", [("events", "ts"), ("documents", "doc_id"), ("events", "event_id")]
)
def test_range_chunked_stream_one_ordered_batch_per_chunk(spark, table, key):
    """The delivery every chunk-delivered entry relies on: exactly
    ``STREAM_CHUNKS`` micro-batches, each one key range, arriving in
    ascending key order and together holding every row once."""
    df = load_table(spark, SF, table)
    seen = []

    def record(batch, epoch):
        mn, mx, n = batch.agg(F.min(key), F.max(key), F.count(F.lit(1))).first()
        seen.append((epoch, mn, mx, n))

    with stp._range_chunked_stream(spark, df, key) as stream:
        q = stream.writeStream.foreachBatch(record).trigger(availableNow=True).start()
        q.awaitTermination()
    seen.sort()
    assert [e for e, *_ in seen] == list(range(stp.STREAM_CHUNKS))
    assert all(n > 0 for *_, n in seen)
    for (_, _, mx, _), (_, mn, _, _) in zip(seen, seen[1:]):
        assert mx < mn  # disjoint ranges, delivered in key order
    assert sum(n for *_, n in seen) == df.count()


# ------------------------------------------- watermark late-data drops


def test_streaming_late_data_actually_drops(spark):
    """Out-of-order delivery must LOSE late windows: the streamed result
    has strictly fewer keys than the no-watermark batch aggregation, and
    every emitted key exists in the batch result with counts <= batch."""
    got = {
        (r.windowStart, r.event_type): r.n
        for r in stp.streaming_late_data_query(spark, SF).collect()
    }
    full = {
        (r.windowStart, r.event_type): r.n
        for r in load_table(spark, SF, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("windowStart"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) < set(full)  # strict subset: drops happened
    assert all(got[k] <= full[k] for k in got)


# ------------------------------------------------ session and hopping windows


def test_streaming_session_window_merges_across_batches(spark):
    """A session engineered to straddle the chunk-1/chunk-2 time
    boundary arrives split across two micro-batches and MUST come back
    merged as one session (state-store merge), while the tail session
    inside the watermark horizon MUST be withheld (append-mode
    finalization)."""
    t0 = datetime.datetime(2001, 1, 1)

    def ev(eid, uid, sec):
        return (eid, t0 + datetime.timedelta(seconds=sec), uid, 1.0)

    # corpus span 0..40000s → 4 chunks of 10000s each. User 1's pair
    # brackets the 20000s boundary 10 min apart (< 30 min gap): the two
    # events land in chunk 1 and chunk 2 micro-batches but form ONE
    # session. User 2's tail event sits at the corpus max (inside the
    # 1 h watermark horizon) and must not be emitted.
    rows_in = [
        ev(0, 1, 0),  # chunk 0 anchor (corpus min)
        ev(1, 1, 20000 - 300),
        ev(2, 1, 20000 + 300),
        ev(3, 2, 5000),
        ev(4, 2, 40000),  # corpus max; unfinalized tail
    ]
    df = spark.createDataFrame(
        rows_in, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    )
    out = stp.streaming_session_window_df(spark, df).collect()
    got = {(r.user_id, r.n) for r in out}
    # user 1: the boundary pair merged into one 2-event session + the anchor
    assert (1, 2) in got and (1, 1) in got
    # user 2: only the early session; the tail one is withheld
    assert (2, 1) in got
    assert len(out) == 3
    gap = stp.SESSION_STREAM_GAP_S
    for r in out:
        assert (r.sessionEnd - r.sessionStart).total_seconds() >= gap


def test_streaming_hopping_cross_batch_merge(spark):
    """One hopping window straddles the chunk boundary: its count must
    merge events delivered in DIFFERENT micro-batches; the unfinalized
    tail (windows whose end is inside the watermark horizon) stays
    withheld."""
    # corpus spans 4 hours; quartile chunks break at :00 boundaries.
    # Window [00:45, 01:45) gets one event in chunk 0 (00:50) and one
    # in chunk 1 (01:10) — merged only if pane state survives batches.
    rows = [
        (1, "2024-01-01 00:50:00", "click", 1.0),
        (2, "2024-01-01 01:10:00", "click", 1.0),
        (3, "2024-01-01 02:30:00", "view", 1.0),
        (4, "2024-01-01 03:59:59", "view", 1.0),  # corpus max
    ]
    ev = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, event_type STRING, value DOUBLE"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
    out = stp.streaming_hopping_window_df(spark, ev).collect()
    got = {(str(r.windowStart), r.event_type): r.n for r in out}
    assert got[("2024-01-01 00:45:00", "click")] == 2  # merged across chunks
    # finalization: watermark = 03:59:59 - 1h => windows ending after
    # 02:59:59 are withheld, so no 'view' window containing 02:30 with
    # end > that cut may appear; the last emitted window end <= cut
    cut = datetime.datetime(2024, 1, 1, 2, 59, 59)
    for r in out:
        end = r.windowStart + datetime.timedelta(seconds=stp.HOP_WINDOW_S)
        assert end <= cut
    assert ("2024-01-01 03:45:00", "view") not in got  # corpus-max window withheld


def test_streaming_hopping_pane_multiplicity(spark):
    """Every corpus event lands in exactly window/slide = 4 emitted-or-
    withheld panes; emitted totals equal 4x the events old enough to
    have all their panes finalized plus partial panes of newer ones —
    checked via the oracle identity sum(n) == pane count of the kept
    windows recomputed in Python."""
    ev = load_table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    out = stp.streaming_hopping_window_df(spark, ev).collect()
    rows = ev.selectExpr("unix_micros(ts) AS tus", "event_type").collect()
    mx = max(r.tus for r in rows)
    cut = (mx // 1000) * 1000 - stp.HOP_WM_S * 1_000_000
    slide = stp.HOP_SLIDE_S * 1_000_000
    win = stp.HOP_WINDOW_S * 1_000_000
    want = 0
    for r in rows:
        base = (r.tus // slide) * slide
        for k in range(stp.HOP_WINDOW_S // stp.HOP_SLIDE_S):
            if base - k * slide + win <= cut:
                want += 1
    assert sum(r.n for r in out) == want


# ---------------------------------------------- stream-stream joins

_EVENTS_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"


def test_streaming_response_join_buffers_across_batches(spark):
    """A query arriving in one micro-batch must be matched by its
    response arriving in a LATER micro-batch (symmetric join state
    buffering), and a response outside the 10-minute bound must not
    match."""
    t0 = datetime.datetime(2001, 1, 1)

    def ev(eid, sec):
        return (eid, t0 + datetime.timedelta(seconds=sec), 1, "click", 1.0)

    # span 0..40000s → 4 chunks of 10000s. Pair key = event_id div 2.
    # key 5: query (id 10) at 9950s (chunk 0), response (id 11) at
    # 10050s (chunk 1) — 100s apart, MUST match across the batch
    # boundary. key 6: response (id 13) arrives 11 min after its query
    # (id 12) — outside the bound, must NOT match. Anchors pin the
    # corpus span.
    rows = [
        ev(0, 0),  # anchor min
        ev(10, 9950),
        ev(11, 10050),
        ev(12, 20000),
        ev(13, 20000 + 660),
        ev(2, 40000),  # anchor max (even id: a query with no response)
    ]
    df = spark.createDataFrame(rows, _EVENTS_SCHEMA)
    out = stp.streaming_response_join_df(spark, df).collect()
    assert len(out) == 1
    assert out[0].delta_us == 100 * 1_000_000


def test_streaming_outer_join_boundary_and_null_emission(spark):
    """Stream-stream LEFT OUTER join: an unmatched query emits its
    NULL-extended row only once the final watermark STRICTLY passes
    qt + 10min. Engineered whole-ms fixture: wm = min(max_qt, max_rt)
    − 10min lands EXACTLY on one query's qt + 10min (withheld — strict
    boundary) and 1 ms past another's (emitted); matched pairs emit
    regardless; unmatched RESPONSES never emit."""
    t0 = datetime.datetime(2001, 1, 1)
    min10 = 600_000  # ms

    def ev(eid, ms):
        return (eid, t0 + datetime.timedelta(milliseconds=ms), 1, "click", 1.0)

    rows = [
        ev(20, -1),  # unmatched; qt+D = wm−1ms -> emitted (delta -1)
        ev(0, 0),  # unmatched; qt+D == wm exactly -> withheld (strict)
        ev(2, 2 * min10),  # matched pair straddling chunks; drives wm_q
        ev(3, 2 * min10 + 7),
        ev(5, 3 * min10),  # unmatched RESPONSE; drives wm_r; never emits
    ]
    df = spark.createDataFrame(rows, _EVENTS_SCHEMA)
    got = sorted(tuple(r) for r in stp.streaming_outer_join_df(spark, df).collect())
    assert got == sorted(
        [
            (t0 + datetime.timedelta(milliseconds=-1), "ns1", -1),
            (t0 + datetime.timedelta(milliseconds=2 * min10), "ns1", 7000),
        ]
    )


def test_streaming_outer_join_empty_response_side(spark):
    """With no response-side rows the response watermark never leaves
    epoch 0, so Spark evicts nothing and emits NOTHING — the oracle
    models this via a NULL combined watermark (review fix: DuckDB's
    least() would skip the NULL side and wrongly evict). Also pins the
    empty-frame guard on the shared chunking helper."""
    t0 = datetime.datetime(2001, 1, 1)
    rows = [  # queries only (even ids), spanning >> the 10-min bound
        (0, t0, 1, "click", 1.0),
        (2, t0 + datetime.timedelta(hours=2), 1, "click", 1.0),
    ]
    df = spark.createDataFrame(rows, _EVENTS_SCHEMA)
    assert stp.streaming_outer_join_df(spark, df).collect() == []
    con = duckdb.connect()
    con.register("events", df.toPandas())
    assert len(con.sql(stp.streaming_outer_join_sql()).df()) == 0
    with pytest.raises(ValueError, match="empty"):
        stp._range_chunked_stream(spark, spark.createDataFrame([], _EVENTS_SCHEMA), "ts")


def test_streaming_full_outer_join_asymmetric_boundaries(spark):
    """FULL OUTER: both orphan kinds emit at their own STRICT cuts —
    queries once wm passes qt + bound, responses once wm passes rt
    itself (queries later than rt can never match it). Whole-ms fixture
    places one orphan response exactly ON the cut (withheld) and one
    1 ms before it (emitted), alongside a matched pair and an
    over-bound response that must surface as an orphan."""
    t0 = datetime.datetime(2001, 1, 1)
    min10 = 600_000

    def ev(eid, ms):
        return (eid, t0 + datetime.timedelta(milliseconds=ms), 1, "click", 1.0)

    rows = [
        ev(21, -1),  # orphan response; rt = wm−1ms -> emitted
        ev(1, 0),  # orphan response; rt == wm exactly -> withheld (strict)
        ev(2, min10),  # query: drives wm_q = t0; pairs with event 3
        ev(3, min10 + 11),  # its response, 11ms later -> match
        ev(5, 2 * min10),  # response, drives wm_r; its query (4) absent
    ]
    df = spark.createDataFrame(rows, _EVENTS_SCHEMA)
    got = sorted(tuple(r) for r in stp.streaming_full_outer_join_df(spark, df).collect())
    assert got == sorted(
        [
            (t0 + datetime.timedelta(milliseconds=-1), "ns1", -1, "orphan_response"),
            (t0 + datetime.timedelta(milliseconds=min10), "ns1", 11000, "match"),
        ]
    )
    # oracle agrees on the engineered frame (both cuts replayed in SQL)
    con = duckdb.connect()
    con.register("events", df.toPandas())
    ora = sorted(map(tuple, con.sql(stp.streaming_full_outer_join_sql()).df().values))
    assert [(str(a), b, c, d) for a, b, c, d in got] == [
        (str(a), b, c, d) for a, b, c, d in ora
    ]


# ---------------------------------------------- stream-static enrich


def test_static_enrich_exactly_once_and_mass(spark):
    """Each event crosses the stream exactly once (n_distinct == n per
    segment), and the total enriched mass equals the batch inner join —
    dropped rows are exactly the users with no dimension row."""
    out = stp.streaming_static_enrich_query(spark, SF).collect()
    assert out, "no segments"
    for r in out:
        assert r.n_events == r.n_distinct_events, f"{r.segment}: duplicated events"
    ev = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer").selectExpr("c_custkey AS user_id")
    batch_n = ev.join(dim, "user_id").count()
    assert sum(r.n_events for r in out) == batch_n


# ------------------------------------------------ streaming CDC apply


def _e2(v: float) -> int:
    return int((Decimal(v) * 100).quantize(Decimal(1), ROUND_HALF_UP))


@pytest.mark.parametrize("entry", ["streaming_upsert_apply", "streaming_tombstone_apply"])
def test_cdc_apply_chunking_independent(spark, monkeypatch, entry):
    """The semilattice claim, executed: 1 micro-batch and 4 micro-
    batches must produce identical final state."""
    run = getattr(stp, entry)
    four = [tuple(r) for r in run(spark, SF).collect()]
    monkeypatch.setattr(stp, "STREAM_CHUNKS", 1)
    one = [tuple(r) for r in run(spark, SF).collect()]
    assert one == four


def test_upsert_apply_matches_batch_argmax(spark):
    ev = load_table(spark, SF, "events").collect()
    best: dict = {}
    n: Counter = Counter()
    for r in ev:
        us = int(r.ts.timestamp() * 1_000_000) if hasattr(r.ts, "timestamp") else r.ts
        key = (us, r.event_id, _e2(r.value))
        if r.user_id not in best or key > best[r.user_id]:
            best[r.user_id] = key
        n[r.user_id] += 1

    out = stp.streaming_upsert_apply(spark, SF).collect()
    assert len(out) == len(best)
    for r in out:
        assert (r.last_ts_us, r.last_event_id, r.last_ve2) == best[r.user_id]
        assert r.n_changes == n[r.user_id]


def test_tombstone_python_replay(spark):
    rows = load_table(spark, SF, "events").selectExpr(
        "event_id", "unix_micros(ts) AS us", "user_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS ve2").collect()
    last: dict = {}
    n: dict = defaultdict(int)
    nd: dict = defaultdict(int)
    for r in rows:
        key = (r.us, r.event_id, r.event_type == "error", r.ve2)
        n[r.user_id] += 1
        if r.event_type == "error":
            nd[r.user_id] += 1
        if r.user_id not in last or key[:2] > last[r.user_id][:2]:
            last[r.user_id] = key
    expect = sorted(
        (u, k[0], k[1], k[2], k[3], n[u], nd[u]) for u, k in last.items()
    )
    got = [tuple(r) for r in stp.streaming_tombstone_apply(spark, SF).collect()]
    assert got == expect
    assert any(r[3] for r in got) or all(nd[u] == 0 for u in nd)


def test_tombstone_resurrection_semantics(spark, monkeypatch):
    """delete -> re-upsert leaves the key LIVE; upsert -> delete
    leaves it DELETED — last-writer-wins on the flag."""
    rows = [
        (0, 0, 1, "view", 1.0, "{}"),
        (1, 1_000_000, 1, "error", 0.0, "{}"),   # user 1: ends deleted
        (2, 0, 2, "error", 0.0, "{}"),
        (3, 1_000_000, 2, "view", 2.0, "{}"),    # user 2: resurrected
    ]
    fixture = spark.createDataFrame(
        rows,
        "event_id BIGINT, t_us BIGINT, user_id BIGINT,"
        " event_type STRING, value DOUBLE, props STRING",
    ).selectExpr(
        "event_id", "timestamp_micros(t_us) AS ts", "user_id",
        "event_type", "value", "props",
    )
    monkeypatch.setattr(stp, "load_table", lambda spark_, sf_dir, name: fixture)
    out = {r.user_id: (r.deleted, r.n_changes, r.n_tombstones)
           for r in stp.streaming_tombstone_apply(spark, SF).collect()}
    assert out[1] == (True, 2, 1)
    assert out[2] == (False, 2, 1)


# ------------------------------------------------------ A11 stats listener

def test_stats_interval_ladder():
    # 10, 15, 22.5, ... capped at 4h (main.go:38, 155-164)
    seq = list(itertools.islice(stats_intervals(), 30))
    assert seq[0] == 10.0 and seq[1] == 15.0
    assert seq[-1] == 4 * 3600

def test_listener_counts_rows(spark, tmp_path):
    listener = EngineStatsListener()
    spark.streams.addListener(listener)
    try:
        ev = load_table(spark, SF, "events")
        with stp._range_chunked_stream(spark, ev, "event_id") as stream:
            st.run_stream_to_memory(_passthrough(stream), "append", spark)
        # PySpark delivers listener callbacks asynchronously — poll
        import time

        total_rows = 0
        for _ in range(100):
            total_rows += sum(s["rows"] for s in listener.read_and_reset().values())
            if total_rows >= ev.count():
                break
            time.sleep(0.2)
        assert total_rows == ev.count()
        # drain-on-read semantics: an immediate second read is empty
        assert sum(s["rows"] for s in listener.read_and_reset().values()) == 0
    finally:
        spark.streams.removeListener(listener)
