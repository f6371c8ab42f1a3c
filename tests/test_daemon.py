"""End-to-end daemon wiring: unix socket -> bridge -> Structured
Streaming aggregation -> column-mapped parquet tables (the reference's
main.go path)."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dnstap2clickhouse_spark.__main__ import build_streams, start_queries
from dnstap2clickhouse_spark.config import EngineConfig
from dnstap2clickhouse_spark.sources.bridge import SocketBridge, send_frames

def _event_rows(n: int) -> list[dict]:
    """Queries (even ids) and responses (odd) incl. non-NOERROR ones."""
    return [
        {
            "event_id": i,
            "ts_us": 1_760_000_000_000_000 + i * 1_000_000,
            "user_id": i % 5,
            "event_type": ["click", "error", "purchase", "signup", "view"][i % 5],
            "value": float(i),
            "props": "{}",
        }
        for i in range(n)
    ]

def _send_and_flush(bridge: SocketBridge, sock: str, rows: list[dict]) -> None:
    send_frames(sock, rows)
    deadline = time.time() + 10
    while bridge.frames_read < len(rows) and time.time() < deadline:
        time.sleep(0.1)
    assert bridge.frames_read == len(rows)
    bridge.flush()

def test_socket_to_tables_end_to_end(spark):
    work = tempfile.mkdtemp(prefix="daemon_")
    sock = os.path.join(work, "dnstap.sock")
    bridge_dir = os.path.join(work, "bridge")
    out_dir = os.path.join(work, "tables")
    bridge = SocketBridge(sock, bridge_dir, flush_rows=10)
    bridge.start()
    try:
        _send_and_flush(bridge, sock, _event_rows(60))

        cfg = EngineConfig()
        cfg.sink.query_columns = {
            "queryTime": "ts",
            "identity": "ident",
            "queryAddress": "addr",
            "questionName": "qname",
            "questionType": "",  # pruned (K1 empty-name semantics)
            "counter": "hits",
        }
        queries = start_queries(
            spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir, available_now=True
        )
        for q in queries:
            q.awaitTermination(timeout=60)

        cq = spark.read.parquet(os.path.join(out_dir, "clientQuery"))
        assert set(cq.columns) >= {"ts", "ident", "addr", "qname", "hits"}
        assert "questionType" not in cq.columns
        assert cq.count() > 0
        cr = spark.read.parquet(os.path.join(out_dir, "clientResponse"))
        assert cr.count() > 0  # non-NOERROR rows exist on odd ids
        assert cr.filter("responseStatus = 'NOERROR'").count() == 0  # F5
    finally:
        bridge.stop()
        shutil.rmtree(work, ignore_errors=True)

def test_daemon_honours_aggregate_false(spark):
    """[aggregator] aggregate = false: the clientResponse sink holds the raw
    non-OK response rows -- the same multiset as the batch builder over the
    same chunks -- and no windowed counts."""
    from dnstap2clickhouse_spark.config import AggregatorConfig
    from dnstap2clickhouse_spark.operators.dns_pipeline import client_response_table
    from dnstap2clickhouse_spark.sources.events import BRIDGE_SCHEMA, dns_response_stream

    work = tempfile.mkdtemp(prefix="daemon_passthrough_")
    sock = os.path.join(work, "dnstap.sock")
    bridge_dir = os.path.join(work, "bridge")
    out_dir = os.path.join(work, "tables")
    bridge = SocketBridge(sock, bridge_dir, flush_rows=10)
    bridge.start()
    try:
        _send_and_flush(bridge, sock, _event_rows(60))
        cfg = EngineConfig(aggregator=AggregatorConfig(aggregate=False))
        queries = start_queries(
            spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir, available_now=True
        )
        for q in queries:
            q.awaitTermination(timeout=60)

        got = spark.read.parquet(os.path.join(out_dir, "clientResponse")).drop("__epoch")
        ev = spark.read.schema(BRIDGE_SCHEMA).parquet(bridge_dir)
        want = client_response_table(
            spark, "", cfg.aggregator, responses=dns_response_stream(spark, "", events=ev)
        ).select(*got.columns)
        assert want.count() > 0
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    finally:
        bridge.stop()
        shutil.rmtree(work, ignore_errors=True)

def _mapped_builder(spark, cfg, bridge_dir):
    """clientQuery's batch builder over every chunk, K1-mapped."""
    from dnstap2clickhouse_spark.operators.columns import apply_column_config
    from dnstap2clickhouse_spark.operators.dns_pipeline import client_query_table
    from dnstap2clickhouse_spark.sources.events import BRIDGE_SCHEMA, dns_query_stream

    ev = spark.read.schema(BRIDGE_SCHEMA).parquet(bridge_dir)
    q = dns_query_stream(spark, "", events=ev)
    return apply_column_config(client_query_table(spark, "", cfg.aggregator, queries=q), cfg.sink.query_columns)

def _assert_same_rows(got, want):
    assert want.count() > 0
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    assert want.select(*got.columns).exceptAll(got).count() == 0

def test_two_waves_partial_counts_sum_to_final_counts(spark):
    """Two availableNow runs over one checkpoint, both waves inside ONE
    event-time window: each run writes that window's partial counts under
    its own ``__epoch``, and read_output_table sums them to the counts of
    the batch builder over both waves, one row per key."""
    from pyspark.sql import functions as F

    from dnstap2clickhouse_spark.__main__ import read_output_table

    work = tempfile.mkdtemp(prefix="daemon_partials_")
    sock = os.path.join(work, "dnstap.sock")
    bridge_dir = os.path.join(work, "bridge")
    out_dir = os.path.join(work, "tables")
    cfg = EngineConfig()
    cfg.aggregator.non_ok_client_responses = False  # one table is enough

    def run_wave(rows):
        bridge = SocketBridge(sock, bridge_dir, flush_rows=10)
        bridge.start()
        try:
            _send_and_flush(bridge, sock, rows)
        finally:
            bridge.stop()
        queries = start_queries(
            spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir, available_now=True
        )
        for q in queries:
            q.awaitTermination(timeout=60)

    def rows_at(start, n):
        return [
            {
                "event_id": i,
                "ts_us": 1_760_000_000_000_000 + i * 1_000,
                "user_id": 1,
                "event_type": "click",
                "value": float(i),
                "props": "{}",
            }
            for i in range(start, start + n)
        ]

    try:
        run_wave(rows_at(0, 20))
        run_wave(rows_at(20, 20))  # same window, same keys

        path = os.path.join(out_dir, "clientQuery")
        raw = spark.read.parquet(path)
        assert raw.select("__epoch").distinct().count() == 2
        collapsed = read_output_table(spark, path)
        # keys counted in both waves have a partial row in each epoch
        assert raw.count() > collapsed.count()
        # queries are even event_ids: 20 of 40 rows, x3 grouping-set variants
        total = collapsed.agg(F.sum("counter").alias("s")).collect()[0]["s"]
        assert total == 20 * 3, f"collapsed total {total} != 60"
        _assert_same_rows(collapsed, _mapped_builder(spark, cfg, bridge_dir))
        keys = [c for c in collapsed.columns if c != "counter"]
        assert collapsed.groupBy(*keys).count().filter("count > 1").count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

def test_replayed_epoch_overwrites_its_partial_counts(spark):
    """foreachBatch may run an epoch again after a crash: deleting the
    last commit makes the restarted query replay it. Its partial counts
    must replace, not add to, the first run's, so the combined table is
    unchanged and equals the batch builder over all chunks."""
    from dnstap2clickhouse_spark.__main__ import COUNT_QUERY, read_output_table
    from dnstap2clickhouse_spark.sources.tables import load_table

    work = tempfile.mkdtemp(prefix="daemon_replay_")
    bridge_dir = os.path.join(work, "bridge")
    out_dir = os.path.join(work, "tables")
    cfg = EngineConfig()
    cfg.aggregator.non_ok_client_responses = False
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    for i in range(3):
        ev.filter(f"event_id % 3 = {i}").coalesce(1).write.mode("append").parquet(bridge_dir)

    def run():
        (q,) = start_queries(
            spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir, available_now=True
        )
        assert q.awaitTermination(timeout=120)
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    def totals():
        return sorted(map(tuple, read_output_table(spark, os.path.join(out_dir, "clientQuery")).collect()))

    try:
        assert run() == [0]
        first = totals()
        commits = os.path.join(out_dir, f"_chk_{COUNT_QUERY}", "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, f)):
                os.remove(os.path.join(commits, f))
        assert run() == [last]  # the epoch really ran again
        assert totals() == first
        _assert_same_rows(
            read_output_table(spark, os.path.join(out_dir, "clientQuery")),
            _mapped_builder(spark, cfg, bridge_dir),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
