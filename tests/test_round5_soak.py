"""Daemon soak at rate (r4 verdict item 8): the full S1-S5 x A1-A10 x K2
interaction — unix socket -> bridge -> TWO concurrent processing-time
streaming queries (the daemon's stateless fan-out into clientQuery and
clientResponse, and the J1 stateful match) — under sustained multi-wave
load with the RocksDB state store enabled, asserting from real
``lastProgress`` signals that

- the match query's state stays BOUNDED: ``stateOperators[].numRowsTotal``
  does not grow across waves (watermark eviction works under RocksDB
  exactly as under the default HDFS-backed provider), and the final state
  is far below cumulative input, while the fan-out keeps no state at all;
- the trigger backlog DRAINS: the fan-out has processed every row sent
  and the match query's event-time watermark advances past each wave (no
  batch pile-up);
- the partial counts sum to the batch builders over every chunk.

Reference behavior being soaked: main.go:95-115 run-until-signal with
aggregator flush timers that drain and clear the counts
(aggregator.go:535,595-619) and the TTL-evicting match map
(aggregator.go:111-121) — here as per-epoch partial counts and an
``applyInPandasWithState`` state machine over RocksDB.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dnstap2clickhouse_spark.__main__ import BRIDGE_SCHEMA, build_streams, read_output_table, start_queries
from dnstap2clickhouse_spark.config import EngineConfig
from dnstap2clickhouse_spark.operators.columns import apply_column_config
from dnstap2clickhouse_spark.operators.dns_pipeline import client_query_table, client_response_table
from dnstap2clickhouse_spark.sources.bridge import SocketBridge, send_frames
from dnstap2clickhouse_spark.sources.events import dns_pair_streams, dns_query_stream, dns_response_stream
from dnstap2clickhouse_spark.streaming.match_state import (
    stateful_match_once,
    tag_pair_streams,
)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

WAVE_ROWS = 200  # 100 query/response pairs per wave
N_WAVES = 4
WAVE_GAP_US = 1800 * 1_000_000  # waves 30 min apart in EVENT time
BASE_US = 1_760_000_000_000_000
WATERMARK = "10 minutes"


def _wave_rows(wave: int) -> list[dict]:
    base = BASE_US + wave * WAVE_GAP_US
    return [
        {
            "event_id": wave * WAVE_ROWS + i,
            "ts_us": base + i * 1_000_000,
            "user_id": i % 7,
            "event_type": ["click", "error", "purchase", "signup", "view"][i % 5],
            "value": float(i),
            "props": "{}",
        }
        for i in range(WAVE_ROWS)
    ]


def _watermark_us(q) -> int:
    p = q.lastProgress
    wm = (p or {}).get("eventTime", {}).get("watermark")
    if not wm:
        return -1
    dt = datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


def _rows_processed(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def _state_rows(q) -> int:
    p = q.lastProgress or {}
    return sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))


@pytest.mark.slow
def test_daemon_soak_rocksdb_bounded_state(spark):
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    work = tempfile.mkdtemp(prefix="daemon_soak_")
    sock = os.path.join(work, "dnstap.sock")
    bridge_dir = os.path.join(work, "bridge")
    out_dir = os.path.join(work, "tables")
    bridge = SocketBridge(sock, bridge_dir, flush_rows=50)
    bridge.start()
    queries = []
    try:
        cfg = EngineConfig()
        # the fan-out into both count tables, live processing-time cadence
        (fanout,) = start_queries(
            spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir
        )
        # plus the J1 stateful match on the same bridge source, with the
        # event-time TTL driving state expiry
        events = spark.readStream.schema(BRIDGE_SCHEMA).parquet(bridge_dir)
        tagged = tag_pair_streams(*dns_pair_streams(spark, "", events=events))
        mq = (
            stateful_match_once(tagged, ttl=WATERMARK)
            .writeStream.outputMode("append")
            .queryName("soakMatch")
            .option("checkpointLocation", os.path.join(work, "_chk_match"))
            .format("noop")
            .trigger(processingTime="1 seconds")
            .start()
        )
        queries = [fanout, mq]

        sent = 0
        match_state: list[int] = []
        for wave in range(N_WAVES):
            rows = _wave_rows(wave)
            send_frames(sock, rows)
            sent += len(rows)
            deadline = time.time() + 30
            while bridge.frames_read < sent and time.time() < deadline:
                time.sleep(0.2)
            assert bridge.frames_read == sent, f"bridge stalled in wave {wave}"
            bridge.flush()

            # drain signal: the fan-out has processed every row sent, and
            # the match query's watermark has passed this wave's base
            # (event time minus the 10-minute delay) — the proof the wave
            # was ingested AND eviction-relevant batches ran; a growing
            # backlog would never get there
            want_wm = BASE_US + wave * WAVE_GAP_US - 10 * 60 * 1_000_000
            deadline = time.time() + 90
            while time.time() < deadline:
                if _rows_processed(fanout) >= sent and _watermark_us(mq) >= want_wm:
                    break
                for q in queries:
                    assert q.exception() is None, f"query died: {q.exception()}"
                time.sleep(0.5)
            else:
                raise AssertionError(
                    f"backlog did not drain in wave {wave}: fan-out rows "
                    f"{_rows_processed(fanout)} of {sent}, match watermark "
                    f"{_watermark_us(mq)} never reached {want_wm}"
                )
            match_state.append(_state_rows(mq))
            assert _rows_processed(fanout) == sent

        # the fan-out keeps no state: no state operator in any batch
        assert all(not p.get("stateOperators") for p in fanout.recentProgress)

        # RocksDB is genuinely in play: the provider surfaces its own
        # custom metrics in the stateful query's progress
        ops = (mq.lastProgress or {}).get("stateOperators", [])
        assert ops, "soakMatch: no state operators in progress"
        metrics = json.dumps([op.get("customMetrics", {}) for op in ops])
        assert "rocksdb" in metrics.lower(), "soakMatch: no RocksDB metrics — provider not active?"

        # bounded state: constant per-wave load + 30-min wave spacing
        # means earlier waves' pending entries are past the watermark
        # when a later wave lands — steady state, not growth.
        # (generous 2x guard band over the first steady snapshot; an
        # eviction failure accumulates ~N_WAVES x and trips this)
        assert match_state[-1] <= max(match_state[1], 1) * 2, f"state grew {match_state}"
        # and state is far below cumulative input — eviction happened at all
        assert match_state[-1] < sent

        # outputs actually flowed (K2): both count tables equal their
        # batch builder over every chunk once the partials are summed
        fanout.stop()
        ev = spark.read.schema(BRIDGE_SCHEMA).parquet(bridge_dir)
        want = {
            "clientQuery": apply_column_config(
                client_query_table(spark, "", cfg.aggregator, queries=dns_query_stream(spark, "", events=ev)),
                cfg.sink.query_columns,
            ),
            "clientResponse": apply_column_config(
                client_response_table(
                    spark, "", cfg.aggregator, responses=dns_response_stream(spark, "", events=ev)
                ),
                cfg.sink.response_columns,
            ),
        }
        for table, exp in want.items():
            got = read_output_table(spark, os.path.join(out_dir, table))
            assert exp.count() > 0
            assert got.exceptAll(exp.select(*got.columns)).count() == 0
            assert exp.select(*got.columns).exceptAll(got).count() == 0
    finally:
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass
        bridge.stop()
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        shutil.rmtree(work, ignore_errors=True)
