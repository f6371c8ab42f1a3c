"""End-to-end daemon wiring: dnstap frames on a unix socket -> bridge ->
parquet chunks -> the count-table fan-out -> column-mapped parquet tables
(the reference's main.go path), its replay and restart behaviour, a soak
at rate, and shutdown by signal.

Each daemon table is compared with its batch builder over the same
chunks: ``prep.decode_frames`` of the dnstap chunks, unioned with the
canonical events mapping of events-shaped chunks where a test adds them.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dnstap2clickhouse_spark.__main__ import (
    COUNT_QUERY,
    build_streams,
    read_events_source,
    read_output_table,
    start_queries,
)
from dnstap2clickhouse_spark.config import AggregatorConfig, EngineConfig
from dnstap2clickhouse_spark.operators.columns import apply_column_config
from dnstap2clickhouse_spark.operators.dns_pipeline import client_query_table, client_response_table
from dnstap2clickhouse_spark.operators.prep import decode_frames
from dnstap2clickhouse_spark.sources.bridge import SocketBridge, decode_dnstap_protobuf, send_frames_fstrm
from dnstap2clickhouse_spark.sources.events import BRIDGE_SCHEMA, dns_query_stream, dns_response_stream
from dnstap2clickhouse_spark.streaming.match_state import stateful_match_once, tag_pair_streams
from tests.dnstap_frames import BASE_US, dnstap_frames

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("clientQuery", "clientResponse")


def _bridge(tmp_path, **kw) -> tuple[SocketBridge, str, str, str]:
    """A started bridge; returns it with its socket, chunk and table dirs."""
    sock, bridge_dir = str(tmp_path / "dnstap.sock"), str(tmp_path / "bridge")
    bridge = SocketBridge(sock, bridge_dir, **kw)
    bridge.start()
    return bridge, sock, bridge_dir, str(tmp_path / "tables")


def _send(bridge: SocketBridge, sock: str, frames: list[bytes]) -> None:
    """One fstrm session: FINISH comes back once every frame is taken in."""
    before = bridge.frames_read
    send_frames_fstrm(sock, frames)
    assert bridge.frames_read == before + len(frames)


def _run(spark, cfg: EngineConfig, bridge_dir: str, out_dir: str) -> list:
    queries = start_queries(spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir, available_now=True)
    for q in queries:
        assert q.awaitTermination(timeout=120)
    return queries


def _chunks(bridge_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(bridge_dir, "chunk-*.parquet")))


def _builders(spark, cfg: EngineConfig, chunks: list[str], events=None) -> dict:
    """Each table's batch builder, K1-mapped, over the decode chain of the
    dnstap ``chunks`` plus the events mapping of ``events`` if given."""
    frames = spark.read.parquet(*chunks)
    queries, responses = decode_frames(frames, "CLIENT_QUERY"), decode_frames(frames, "CLIENT_RESPONSE")
    if events is not None:
        queries = queries.unionByName(dns_query_stream(spark, "", events=events))
        responses = responses.unionByName(dns_response_stream(spark, "", events=events))
    return {
        "clientQuery": apply_column_config(
            client_query_table(spark, "", cfg.aggregator, queries=queries), cfg.sink.query_columns
        ),
        "clientResponse": apply_column_config(
            client_response_table(spark, "", cfg.aggregator, responses=responses), cfg.sink.response_columns
        ),
    }


def _assert_same_rows(got, want):
    assert want.count() > 0
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    assert want.select(*got.columns).exceptAll(got).count() == 0


def _assert_tables(spark, out_dir: str, want: dict, tables=TABLES) -> None:
    for table in tables:
        _assert_same_rows(read_output_table(spark, os.path.join(out_dir, table)), want[table])


def test_socket_to_tables_end_to_end(spark, tmp_path):
    """fstrm dnstap frames over two connections: both tables hold the K1
    columns and equal their batch builders over the decoded chunks."""
    bridge, sock, bridge_dir, out_dir = _bridge(tmp_path, flush_rows=16)
    try:
        frames = dnstap_frames(120)
        _send(bridge, sock, frames[:60])
        _send(bridge, sock, frames[60:])
    finally:
        bridge.stop()
    cfg = EngineConfig()
    cfg.sink.query_columns = {
        "queryTime": "ts",
        "identity": "ident",
        "queryAddress": "addr",
        "questionName": "qname",
        "questionType": "",  # pruned (K1 empty-name semantics)
        "counter": "hits",
    }
    _run(spark, cfg, bridge_dir, out_dir)

    cq = read_output_table(spark, os.path.join(out_dir, "clientQuery"), counter_col="hits")
    assert set(cq.columns) == {"ts", "ident", "addr", "qname", "hits"}
    cr = read_output_table(spark, os.path.join(out_dir, "clientResponse"))
    assert cr.count() > 0  # NXDOMAIN/SERVFAIL/REFUSED responses
    assert cr.filter("responseStatus = 'NOERROR'").count() == 0  # F5
    want = _builders(spark, cfg, _chunks(bridge_dir))
    _assert_same_rows(cq, want["clientQuery"])
    _assert_same_rows(cr, want["clientResponse"])


def test_daemon_honours_aggregate_false(spark, tmp_path):
    """[aggregator] aggregate = false: the tables hold the raw decoded rows
    (clientResponse only the non-OK ones) -- the same multisets as the
    batch builders over the same chunks -- and no windowed counts."""
    bridge, sock, bridge_dir, out_dir = _bridge(tmp_path, flush_rows=10)
    try:
        _send(bridge, sock, dnstap_frames(60))
    finally:
        bridge.stop()
    cfg = EngineConfig(aggregator=AggregatorConfig(aggregate=False))
    _run(spark, cfg, bridge_dir, out_dir)
    got = read_output_table(spark, os.path.join(out_dir, "clientResponse"))
    assert "windowStart" not in got.columns
    _assert_tables(spark, out_dir, _builders(spark, cfg, _chunks(bridge_dir)))


def test_two_waves_partial_counts_sum_to_final_counts(spark, tmp_path):
    """Two availableNow runs over one checkpoint, both waves inside ONE
    event-time window and on the same keys: each run writes that window's
    partial counts under its own ``__epoch``, and read_output_table sums
    them to the counts of the batch builder over both waves, one row per
    key."""
    from pyspark.sql import functions as F

    cfg = EngineConfig()
    cfg.aggregator.non_ok_client_responses = False  # one table is enough
    sock, bridge_dir = str(tmp_path / "dnstap.sock"), str(tmp_path / "bridge")
    out_dir = str(tmp_path / "tables")
    waves = [dnstap_frames(20, start, step_us=1_000, clients=1, names=1) for start in (0, 20)]
    for frames in waves:
        bridge = SocketBridge(sock, bridge_dir, flush_rows=10)
        bridge.start()
        try:
            _send(bridge, sock, frames)
        finally:
            bridge.stop()
        _run(spark, cfg, bridge_dir, out_dir)

    path = os.path.join(out_dir, "clientQuery")
    raw = spark.read.parquet(path)
    assert raw.select("__epoch").distinct().count() == 2
    collapsed = read_output_table(spark, path)
    # keys counted in both waves have a partial row in each epoch
    assert raw.count() > collapsed.count()
    # each question of each client query, x3 grouping-set variants
    rows = [decode_dnstap_protobuf(f) for frames in waves for f in frames]
    questions = sum(len(r["questionNames"]) for r in rows if r["messageType"] == "CLIENT_QUERY")
    total = collapsed.agg(F.sum("counter").alias("s")).collect()[0]["s"]
    assert total == questions * 3, f"collapsed total {total} != {questions} x 3"
    _assert_same_rows(collapsed, _builders(spark, cfg, _chunks(bridge_dir))["clientQuery"])
    keys = [c for c in collapsed.columns if c != "counter"]
    assert collapsed.groupBy(*keys).count().filter("count > 1").count() == 0


def test_replayed_epoch_overwrites_its_partial_counts(spark, tmp_path):
    """foreachBatch may run an epoch again after a crash: deleting the
    last commit makes the restarted query replay it. Its partial counts
    must replace, not add to, the first run's, so the combined table is
    unchanged and equals the batch builder over all chunks."""
    bridge, sock, bridge_dir, out_dir = _bridge(tmp_path, flush_rows=100)
    try:
        _send(bridge, sock, dnstap_frames(300))
    finally:
        bridge.stop()
    assert len(_chunks(bridge_dir)) == 3
    cfg = EngineConfig()
    cfg.aggregator.non_ok_client_responses = False

    def run():
        (q,) = _run(spark, cfg, bridge_dir, out_dir)
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    def totals():
        return sorted(map(tuple, read_output_table(spark, os.path.join(out_dir, "clientQuery")).collect()))

    assert run() == [0]
    first = totals()
    commits = os.path.join(out_dir, f"_chk_{COUNT_QUERY}", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    assert run() == [last]  # the epoch really ran again
    assert totals() == first
    _assert_tables(spark, out_dir, _builders(spark, cfg, _chunks(bridge_dir)), ("clientQuery",))


def _write_events_chunk(path: str, n: int) -> None:
    """``n`` events-shaped rows, one per second from ``BASE_US``, as one
    parquet file (the shape of a replayed events backlog)."""
    types = ["click", "error", "purchase", "signup", "view"]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([BASE_US + i * 1_000_000 for i in range(n)], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
                "event_type": [types[i % 5] for i in range(n)],
                "value": [float(i) for i in range(n)],
                "props": ["{}"] * n,
            }
        ),
        path,
    )


@pytest.mark.parametrize("with_events", [True, False], ids=["events+dnstap", "dnstap"])
def test_chunk_directory_of_both_shapes(spark, tmp_path, with_events):
    """Bridge-written dnstap chunks, alone or next to an events-shaped
    chunk in the same directory: each table equals the union of both
    builders' inputs, and neither shape is lost to the other's NULLs."""
    bridge, sock, bridge_dir, out_dir = _bridge(tmp_path, flush_rows=50)
    try:
        _send(bridge, sock, dnstap_frames(200))
    finally:
        bridge.stop()
    chunks = _chunks(bridge_dir)
    events = None
    if with_events:
        path = os.path.join(bridge_dir, "chunk-events.parquet")
        _write_events_chunk(path, 120)
        events = spark.read.schema(BRIDGE_SCHEMA).parquet(path)
    cfg = EngineConfig()
    _run(spark, cfg, bridge_dir, out_dir)
    want = _builders(spark, cfg, chunks, events)
    _assert_tables(spark, out_dir, want)
    if with_events:  # the events rows add counts the dnstap rows alone lack
        alone = _builders(spark, cfg, chunks)
        for table in TABLES:
            assert want[table].exceptAll(alone[table]).count() > 0


@pytest.mark.parametrize(
    "when,sig",
    [("starting", signal.SIGTERM), ("running", signal.SIGTERM), ("running", signal.SIGINT)],
    ids=["starting", "running", "running-sigint"],
)
def test_sigterm_keeps_acknowledged_frames(tmp_path, when, sig):
    """SIGTERM to the daemon, while Spark is still starting or once the
    count query runs, or SIGINT once it runs (after SparkContext has put in
    its own SIGINT handler): the process exits 0, every frame the bridge
    acknowledged with FINISH is in a chunk, and the socket is removed."""
    sock, work = str(tmp_path / "dnstap.sock"), str(tmp_path / "work")
    log = open(tmp_path / "daemon.log", "w")
    proc = subprocess.Popen(
        [sys.executable, "-m", "dnstap2clickhouse_spark", "--socket", sock, "--work-dir", work],
        cwd=REPO, stdout=log, stderr=subprocess.STDOUT,
    )
    try:
        assert _wait_for(lambda: os.path.exists(sock), 60), "the bridge never bound its socket"
        if when == "running":
            chk = os.path.join(work, "tables", f"_chk_{COUNT_QUERY}")
            assert _wait_for(lambda: os.path.isdir(chk), 120), "the count query never started"
        send_frames_fstrm(sock, dnstap_frames(10))
        proc.send_signal(sig)
        code = proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    assert code == 0, (tmp_path / "daemon.log").read_text()[-2000:]
    chunks = _chunks(os.path.join(work, "bridge"))
    assert sum(pq.read_metadata(f).num_rows for f in chunks) == 10
    assert not os.path.exists(sock)


def _wait_for(cond, timeout: float) -> bool:
    deadline = time.time() + timeout
    while not cond() and time.time() < deadline:
        time.sleep(0.05)
    return cond()


# ------------------------------------------------------------------ soak
#
# The full S1-S5 x A1-A10 x K2 interaction under sustained multi-wave load:
# the daemon's stateless fan-out and the J1 stateful match
# (``applyInPandasWithState`` over RocksDB) run as two processing-time
# queries on one bridge directory. Reference behaviour soaked: main.go:95-115
# run-until-signal, aggregator flush timers that drain and clear the counts
# (aggregator.go:535,595-619) and the TTL-evicting match map
# (aggregator.go:111-121).

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
WAVE_FRAMES = 200  # 100 query/response pairs per wave
N_WAVES = 4
WAVE_GAP_US = 1800 * 1_000_000  # waves 30 min apart in EVENT time
WATERMARK = "10 minutes"


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
def test_daemon_soak_rocksdb_bounded_state(spark, tmp_path):
    """From real ``lastProgress`` signals: the match query's state stays
    bounded across waves while the fan-out keeps none, the backlog drains
    every wave, and the partial counts sum to the batch builders."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    bridge, sock, bridge_dir, out_dir = _bridge(tmp_path, flush_rows=50)
    queries = []
    try:
        cfg = EngineConfig()
        # the fan-out into both count tables, live processing-time cadence
        (fanout,) = start_queries(spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir)
        # plus the J1 stateful match on the same chunks, with the
        # event-time TTL driving state expiry
        frames = read_events_source(spark, cfg, bridge_dir)
        tagged = tag_pair_streams(decode_frames(frames, "CLIENT_QUERY"), decode_frames(frames, "CLIENT_RESPONSE"))
        mq = (
            stateful_match_once(tagged, ttl=WATERMARK)
            .writeStream.outputMode("append")
            .queryName("soakMatch")
            .option("checkpointLocation", str(tmp_path / "_chk_match"))
            .format("noop")
            .trigger(processingTime="1 seconds")
            .start()
        )
        queries = [fanout, mq]

        sent = 0
        match_state: list[int] = []
        for wave in range(N_WAVES):
            base = BASE_US + wave * WAVE_GAP_US
            _send(bridge, sock, dnstap_frames(WAVE_FRAMES, wave * WAVE_FRAMES, base_us=base))
            sent += WAVE_FRAMES
            bridge.flush()

            # drain signal: the fan-out has processed every frame sent, and
            # the match query's watermark has passed this wave's base
            # (event time minus the 10-minute delay) — the proof the wave
            # was ingested AND eviction-relevant batches ran; a growing
            # backlog would never get there
            want_wm = base - 10 * 60 * 1_000_000
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
        _assert_tables(spark, out_dir, _builders(spark, cfg, _chunks(bridge_dir)))
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
