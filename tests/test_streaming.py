"""The streaming family.

- Batch == stream equality: the batch builders run over a stream must
  produce exactly the batch results once all input is processed
  (Structured Streaming's correctness story, SURVEY.md section 5).
- Streaming sinks, redelivery dedup, checkpoint restart, session windows
  and the stateless curation filter.
- The A11 stats listener and the O4 adaptive sampler controller.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dnstap2clickhouse_spark import streaming as st
from dnstap2clickhouse_spark.__main__ import _mapped_writer
from dnstap2clickhouse_spark.config import AggregatorConfig
from dnstap2clickhouse_spark.operators import dns_pipeline as dp
from dnstap2clickhouse_spark.operators.join import match_response_times
from dnstap2clickhouse_spark.sources.events import (
    dns_pair_streams,
    dns_query_stream,
    dns_response_stream,
)
from dnstap2clickhouse_spark.sources.tables import load_table
from dnstap2clickhouse_spark.streaming.adaptive_sampler import (
    MAX_SAMPLES,
    MIN_SAMPLES,
    AdaptiveSampler,
    sampled_foreach_batch,
)
from dnstap2clickhouse_spark.streaming.stats import EngineStatsListener, stats_intervals

SF = "/root/testdata/sf0.001"
N_CHUNKS = 4
WATERMARK = "10 minutes"

@pytest.fixture(scope="module")
def events_dir(spark):
    """events split into N parquet chunk files (one micro-batch each)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    ev = load_table(spark, SF, "events")
    n = ev.count()
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    for i in range(N_CHUNKS):
        chunk = ev.filter(
            (ev.event_id >= i * step) & (ev.event_id < (i + 1) * step)
        ).coalesce(1)
        chunk.write.mode("append").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)

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

def test_stream_query_agg_equals_batch(spark, events_dir):
    q = dns_query_stream(spark, "", events=st.read_events_stream(spark, events_dir))
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

def test_stream_response_agg_equals_batch(spark, events_dir):
    r = dns_response_stream(spark, "", events=st.read_events_stream(spark, events_dir))
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

def test_stream_join_equals_batch(spark, events_dir):
    sdf = st.streaming_response_time_join(st.read_events_stream(spark, events_dir))
    mem = st.run_stream_to_memory(sdf, "append", spark)
    q, r = dns_pair_streams(spark, SF)
    batch = match_response_times(q, r)
    cols = ["responseTime", "identity", "delta_us"]
    assert _rows(mem, cols) == _rows(batch, cols)

def test_stream_passthrough_counts(spark, events_dir):
    sdf = _passthrough(st.read_events_stream(spark, events_dir))
    mem = st.run_stream_to_memory(sdf, "append", spark)
    batch = dp.client_response_table(spark, SF, AggregatorConfig(aggregate=False))
    assert mem.count() == batch.count()
    assert mem.agg({"counter": "sum"}).first()[0] == batch.count()

def test_streaming_avg_equals_batch_table(spark, events_dir):
    """A9/A10 two-stage streaming flavor == batch response_time_table."""
    samples = tempfile.mkdtemp(prefix="samples_") + "/out"
    try:
        got = st.stateful_match_query  # noqa: F841 (import check)
        from dnstap2clickhouse_spark.streaming.pipeline import streaming_response_time_avg

        avg = streaming_response_time_avg(spark, events_dir, samples)
        batch = dp.response_time_table(spark, SF)
        cols = ["windowStart", "identity", "responseTimeDelta", "nSamples"]
        assert _rows(avg.select(cols)) == _rows(batch.select(cols))
    finally:
        shutil.rmtree(os.path.dirname(samples), ignore_errors=True)

def test_foreach_batch_sink_with_column_config(spark, events_dir):
    """The daemon's foreachBatch sink applies the K1 column mapping and
    tags each micro-batch with its ``__epoch``."""
    out = tempfile.mkdtemp(prefix="sink_out_")
    try:
        mapping = {"responseTime": "ts", "identity": "ident", "counter": "hits"}
        sdf = _passthrough(st.read_events_stream(spark, events_dir))
        q = (
            sdf.writeStream.outputMode("append")
            .foreachBatch(_mapped_writer(out, mapping))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        written = spark.read.parquet(out)
        assert set(written.columns) == {"ts", "ident", "hits", "__epoch"}
        assert written.count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)

def test_streaming_exact_dedup_collapses_redelivery(spark, events_dir):
    """At-least-once input (every chunk delivered twice, within-batch and
    across batches) must collapse to exactly the batch-distinct rows."""
    import tempfile

    dup_dir = tempfile.mkdtemp(prefix="events_dup_")
    try:
        src = spark.read.parquet(events_dir)
        # two full deliveries: duplicates both inside one file and across
        # micro-batch boundaries
        src.unionAll(src).coalesce(2).write.mode("append").parquet(dup_dir)
        src.coalesce(1).write.mode("append").parquet(dup_dir)
        sdf = st.streaming_exact_dedup(st.read_events_stream(spark, dup_dir))
        got = st.run_stream_to_memory(sdf, "append", spark)
        batch = load_table(spark, SF, "events")
        assert _rows(got) == _rows(batch.select(*got.columns))
    finally:
        import shutil

        shutil.rmtree(dup_dir, ignore_errors=True)

def test_checkpoint_restart_resumes_without_reprocessing(spark):
    """K4 upgrade claim (ARCHITECTURE.md): a checkpointed query restarted
    over a grown source processes only the new files — the union of both
    runs' outputs is exactly the full input, no duplicates, no loss."""
    import tempfile

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
    import shutil

    shutil.rmtree(base, ignore_errors=True)

def test_streaming_session_window_append_equals_closed_batch(spark, events_dir):
    """Native session_window in a STREAM (append mode): emitted sessions
    must equal exactly the batch sessions already closed by the final
    watermark (end <= max_ts - delay); later sessions are still open."""
    from pyspark.sql import functions as F

    gap_s, delay = 1800, "10 minutes"
    stream = st.read_events_stream(spark, events_dir)
    sdf = (
        stream.withWatermark("ts", delay)
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


def test_streaming_curation_equals_batch_gates(spark, tmp_path):
    """The stateless streaming curation filter admits exactly the docs
    that pass the batch quality + repetition + decontamination gates."""
    from dnstap2clickhouse_spark.functions import text as ft
    from dnstap2clickhouse_spark.plans.curation import QUALITY_MIN
    from dnstap2clickhouse_spark.sources.tables import load_table
    from dnstap2clickhouse_spark.streaming import (
        run_stream_to_memory,
        streaming_curation_filter,
    )

    SF = "/root/testdata/sf0.001"
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
    d = str(tmp_path / "chunks")
    docs.repartitionByRange(4, "doc_id").write.parquet(d)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(d)
    out = run_stream_to_memory(
        streaming_curation_filter(stream, frozenset(eval_grams)), "append", spark
    )
    got = {r.doc_id: r.quality for r in out.collect()}
    assert got == expect


def test_streaming_agg_equals_batch_any_chunking(spark):
    """The update-mode stream collapsed to final state must equal the
    batch clientQuery table regardless of micro-batch boundaries (1 chunk
    == single batch, 7 chunks == many trigger updates per key)."""
    from dnstap2clickhouse_spark.operators import dns_pipeline as dp
    from dnstap2clickhouse_spark.streaming.pipeline import streaming_query_agg_query

    want = sorted(
        tuple(r) for r in dp.client_query_table(spark, SF).collect()
    )
    for n_chunks in (1, 7):
        got = sorted(
            tuple(r) for r in streaming_query_agg_query(spark, SF, n_chunks).collect()
        )
        assert got == want, f"n_chunks={n_chunks}: {len(got)} vs {len(want)} rows"


# --------------------- A11 stats listener + O4 adaptive sampler controller

def test_stats_interval_ladder():
    # 10, 15, 22.5, ... capped at 4h (main.go:38, 155-164)
    seq = list(itertools.islice(stats_intervals(), 30))
    assert seq[0] == 10.0 and seq[1] == 15.0
    assert seq[-1] == 4 * 3600

def test_listener_counts_rows(spark, tmp_path):
    listener = EngineStatsListener()
    spark.streams.addListener(listener)
    try:
        d = str(tmp_path / "chunks")
        ev = load_table(spark, SF, "events")
        ev.coalesce(1).write.mode("append").parquet(d)
        sdf = _passthrough(st.read_events_stream(spark, d))
        st.run_stream_to_memory(sdf, "append", spark)
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

def test_tune_mask_widens_and_narrows():
    s = AdaptiveSampler()
    # flood: repeated over-MAX intervals widen the mask (halve rate)
    s.observe(10_000)
    s.observe(10_000)
    assert s.mask == 0b11
    # starve: under-MIN intervals narrow it back (double rate)
    s.observe(MIN_SAMPLES - 1)
    s.observe(MIN_SAMPLES - 1)
    assert s.mask == 0
    # overflow pressure alone widens after MAX_EXCEEDS
    for _ in range(5):
        s.observe(100, state_overflowed=True)
    assert s.mask > 0

def test_adaptive_foreach_batch_controls_rate(spark):
    """Drive the controller from an actual streaming query: a flood of
    ids must leave the controller with a widened mask and later batches
    smaller than earlier ones."""
    d = tempfile.mkdtemp(prefix="adapt_")
    try:
        ev = load_table(spark, SF, "events").selectExpr("event_id % 65536 AS id")
        for i in range(3):  # 3 micro-batches of ~1600 rows each
            ev.filter(f"id % 3 = {i}").coalesce(1).write.mode("append").parquet(d)
        schema = "id BIGINT"
        sdf = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        )
        sampler = AdaptiveSampler()
        seen: list[int] = []
        q = (
            sdf.writeStream.outputMode("append")
            .foreachBatch(
                sampled_foreach_batch(sampler, lambda df, _e: seen.append(df.count()))
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(seen) == 3
        assert sampler.mask > 0, "flood must widen the mask"
        assert seen[-1] < seen[0], "later batches must be sampled down"
        assert seen[-1] <= MAX_SAMPLES * 2  # rate heading into the band
    finally:
        shutil.rmtree(d, ignore_errors=True)
