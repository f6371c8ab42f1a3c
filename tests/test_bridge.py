"""S1-S5 bridge: real unix socket -> frames -> parquet chunks -> Spark
(batch and readStream), plus the S1 backoff ladder semantics."""

from __future__ import annotations

import itertools
import os
import shutil
import socket
import sys
import tempfile
import threading
import time

import pyarrow.parquet as pq
import pytest

from dnstap2clickhouse_spark import streaming as st
from dnstap2clickhouse_spark.__main__ import read_events_source
from dnstap2clickhouse_spark.operators.dns_pipeline import client_query_table
from dnstap2clickhouse_spark.operators.prep import decode_frames
from dnstap2clickhouse_spark.sources import bridge as br
from dnstap2clickhouse_spark.sources.bridge import (
    SocketBridge,
    backoff_delays,
    decode_dnstap_protobuf,
    send_frames,
    send_frames_fstrm,
)
from dnstap2clickhouse_spark.sources.dnstap_proto import encode_dnstap
from dnstap2clickhouse_spark.sources.dnswire import encode_message
from tests.dnstap_frames import dnstap_frames


def _chunk_rows(out: str) -> list[dict]:
    """Every chunk row, in a canonical order."""
    return sorted(pq.read_table(out).to_pylist(), key=repr)


def _decoded(frames: list[bytes]) -> list[dict]:
    return sorted(map(decode_dnstap_protobuf, frames), key=repr)

def test_backoff_ladder_matches_reference():
    # dnstap.go:112-124: 1, 3, 7, 15, 31, 60, 60, ...
    assert list(itertools.islice(backoff_delays(), 7)) == [1, 3, 7, 15, 31, 60, 60]

def test_socket_to_parquet_to_spark(spark):
    """Bare dnstap frames over two connections land as chunk rows equal to
    their decode, and the chunk directory feeds the streaming decode
    chain and count pipeline."""
    d = tempfile.mkdtemp(prefix="bridge_")
    sock = os.path.join(d, "dnstap.sock")
    out = os.path.join(d, "chunks")
    bridge = SocketBridge(sock, out, readers=2, flush_rows=64)
    bridge.start()
    frames = dnstap_frames(200)
    try:
        send_frames(sock, frames[:100])
        send_frames(sock, frames[100:])  # second connection exercises fan-in
        deadline = time.time() + 10
        while bridge.frames_read < 200 and time.time() < deadline:
            time.sleep(0.1)
        assert bridge.frames_read == 200
    finally:
        bridge.stop()
    # socket file removed on stop; 0660 was applied while live
    assert not os.path.exists(sock)
    assert pq.read_schema(os.path.join(out, os.listdir(out)[0])).names == br.SocketBridge._DNSTAP_SCHEMA.names
    assert _chunk_rows(out) == _decoded(frames)

    q = decode_frames(read_events_source(spark, None, out), "CLIENT_QUERY")
    sdf = client_query_table(spark, "", queries=q.withWatermark("queryTime", "10 minutes"))
    mem = st.run_stream_to_memory(sdf, "update", spark)
    assert mem.count() > 0
    shutil.rmtree(d, ignore_errors=True)

def test_unknown_frame_format_raises():
    """Garbage that isn't valid dnstap protobuf raises a wire-format error
    rather than yielding a bogus row."""
    with pytest.raises(ValueError):
        br._dnstap_row(b"\x7fGARBAGE")

def test_fstrm_control_frame_codec():
    from dnstap2clickhouse_spark.sources.bridge import (
        FSTRM_READY,
        encode_control_frame,
        parse_control_frame,
    )

    frame = encode_control_frame(FSTRM_READY, (b"protobuf:dnstap.Dnstap", b"application/json"))
    # escape (0) + control length + payload
    assert frame[:4] == b"\x00\x00\x00\x00"
    ctype, cts = parse_control_frame(frame[8:])
    assert ctype == FSTRM_READY
    assert cts == [b"protobuf:dnstap.Dnstap", b"application/json"]


def test_fstrm_bidirectional_handshake():
    """S2: the real framestream exchange — READY/ACCEPT content-type
    negotiation, START, data frames, STOP/FINISH — through the live
    socket, mixed with a no-handshake sender."""
    d = tempfile.mkdtemp(prefix="bridge_fstrm_")
    sock = os.path.join(d, "dnstap.sock")
    out = os.path.join(d, "chunks")
    bridge = SocketBridge(sock, out, readers=2, flush_rows=16)
    bridge.start()
    frames = dnstap_frames(48)
    try:
        send_frames_fstrm(sock, frames[:16])
        send_frames_fstrm(sock, frames[16:32])
        assert bridge.frames_read == 32  # FINISH follows every frame before STOP
        send_frames(sock, frames[32:])  # degenerate session still accepted
        deadline = time.time() + 10
        while bridge.frames_read < 48 and time.time() < deadline:
            time.sleep(0.1)
        assert bridge.frames_read == 48
    finally:
        bridge.stop()
    assert _chunk_rows(out) == _decoded(frames)
    shutil.rmtree(d, ignore_errors=True)


def test_fstrm_rejects_unaccepted_content_type():
    """dnstap protobuf is the one content type: any other, JSON included,
    is refused at the handshake."""
    d = tempfile.mkdtemp(prefix="bridge_rej_")
    sock = os.path.join(d, "dnstap.sock")
    bridge = SocketBridge(sock, os.path.join(d, "chunks"), readers=1)
    bridge.start()
    try:
        for ct in (b"text/unknown", b"application/json"):
            with pytest.raises(ConnectionError, match="does not accept"):
                send_frames_fstrm(sock, dnstap_frames(1), content_type=ct)
        assert br.ACCEPTED_CONTENT_TYPES == (_DNSTAP_CT,)
    finally:
        bridge.stop()
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------- framing and hand-off
#
# Pyarrow only, no Spark: dnstap protobuf frames over raw fstrm sessions,
# each frame tagged "<conn>.<seq>" in its identity so every chunk row
# names the frame that made it.

_DNSTAP_CT = b"protobuf:dnstap.Dnstap"


def _dnstap(tag: str, pad: int = 0) -> bytes:
    return encode_dnstap(
        message_type="CLIENT_QUERY", identity=tag + " " * pad,
        query_address=bytes([10, 0, 0, 1]), query_port=5353,
        time_sec=1_760_000_000, time_nsec=1,
        dns_message=encode_message(7, [("host.example.", 1)]),
    )


def _session(payloads: list[bytes]) -> bytes:
    """One whole fstrm session as sent: READY, START, data frames, STOP."""
    return (
        br.encode_control_frame(br.FSTRM_READY, (_DNSTAP_CT,))
        + br.encode_control_frame(br.FSTRM_START, (_DNSTAP_CT,))
        + b"".join(br._FRAME_HEADER.pack(len(p)) + p for p in payloads)
        + br.encode_control_frame(br.FSTRM_STOP)
    )


def _send_session(path: str, payloads: list[bytes], piece: int | None = None) -> list[int]:
    """Send a session in ``piece``-byte sends (all at once when None) and
    return the control types the bridge answered, read until it closes."""
    data = _session(payloads)
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as c:
        c.settimeout(10)
        c.connect(path)
        step = piece or len(data)
        for i in range(0, len(data), step):
            c.sendall(data[i : i + step])
        got = b""
        while chunk := c.recv(65536):
            got += chunk
    replies, off = [], 0
    while off < len(got):
        (clen,) = br._FRAME_HEADER.unpack_from(got, off + 4)
        replies.append(br.parse_control_frame(got[off + 8 : off + 8 + clen])[0])
        off += 8 + clen
    return replies


@pytest.fixture
def live_bridge(tmp_path):
    """Factory: start a bridge with the given settings and return
    (bridge, socket path, chunk dir); every bridge is stopped at teardown."""
    made = []

    def make(**kw) -> tuple[br.SocketBridge, str, str]:
        sock, out = str(tmp_path / "dnstap.sock"), str(tmp_path / "chunks")
        b = br.SocketBridge(sock, out, **kw)
        b.start()
        made.append(b)
        return b, sock, out

    yield make
    for b in made:
        b.stop()


def _chunk_identities(out: str) -> dict[str, list[str]]:
    return {
        f: pq.read_table(os.path.join(out, f)).column("identity").to_pylist()
        for f in sorted(os.listdir(out))
    }


def test_frames_one_byte_per_send(live_bridge):
    bridge, sock, out = live_bridge(readers=2)
    tags = [f"0.{k}" for k in range(12)]
    assert _send_session(sock, [_dnstap(t) for t in tags], piece=1) == [
        br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert bridge.frames_read == len(tags)
    bridge.stop()
    assert [t for ids in _chunk_identities(out).values() for t in ids] == tags


def test_data_and_stop_in_one_send_land_before_finish(live_bridge):
    """FINISH goes out only after every frame sent before STOP is taken in:
    the counter is complete the moment the sender sees FINISH."""
    bridge, sock, out = live_bridge(readers=2, flush_rows=1000)
    tags = [f"0.{k}" for k in range(300)]
    assert _send_session(sock, [_dnstap(t) for t in tags]) == [br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert bridge.frames_read == len(tags)
    bridge.stop()
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(tags)


def test_frame_larger_than_one_recv(live_bridge):
    bridge, sock, out = live_bridge(readers=1)
    big = _dnstap("0.1", pad=200_000)
    assert len(big) > 65536
    _send_session(sock, [_dnstap("0.0"), big, _dnstap("0.2")])
    assert bridge.frames_read == 3
    bridge.stop()
    ids = [t.rstrip() for ids in _chunk_identities(out).values() for t in ids]
    assert ids == ["0.0", "0.1", "0.2"]


def _concurrent_sessions(make, flush_rows: int, n: int, conns: int = 2) -> tuple[br.SocketBridge, str]:
    """``conns`` concurrent connections of ``n`` tagged frames each, sent
    in uneven pieces, into a bridge with one reader per connection;
    returns once every connection got FINISH."""
    bridge, sock, out = make(readers=conns, flush_rows=flush_rows)
    errors: list[BaseException] = []

    def send(conn: int) -> None:
        try:
            _send_session(sock, [_dnstap(f"{conn}.{k}") for k in range(n)], piece=997 + conn)
        except BaseException as exc:  # noqa: BLE001 - re-raised in the test
            errors.append(exc)

    threads = [threading.Thread(target=send, args=(i,)) for i in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not errors and not any(t.is_alive() for t in threads)
    assert bridge.frames_read == conns * n
    return bridge, out


def test_each_connection_keeps_its_order_across_chunks(live_bridge):
    """Chunks are cut off the head of one shared buffer that every batch
    is appended to whole, so each chunk holds a contiguous, ascending run
    of each connection's frames, and those runs tile the connection."""
    n = 400
    bridge, out = _concurrent_sessions(live_bridge, flush_rows=7, n=n)
    bridge.stop()
    for conn in ("0", "1"):
        runs = []
        for ids in _chunk_identities(out).values():
            seqs = [int(t.split(".")[1]) for t in ids if t.split(".")[0] == conn]
            if seqs:
                assert seqs == list(range(seqs[0], seqs[0] + len(seqs)))
                runs.append(seqs)
        assert [k for run in sorted(runs) for k in run] == list(range(n))


def test_chunks_before_stop_hold_exactly_flush_rows(live_bridge):
    """Every chunk a running bridge writes holds exactly ``flush_rows``
    rows: the paced latency (about flush_rows / rate) rests on it. Only
    the final flush at stop may be short."""
    bridge, out = _concurrent_sessions(live_bridge, flush_rows=64, n=500)
    before = _chunk_identities(out)
    assert len(before) == 2 * 500 // 64
    assert all(len(ids) == 64 for ids in before.values())
    bridge.stop()
    after = _chunk_identities(out)
    assert sum(map(len, after.values())) == 2 * 500
    assert [len(after[f]) for f in after if f not in before] == [2 * 500 % 64]


def test_hand_off_under_thread_switch_stress(live_bridge):
    """More readers than cores, switching threads every few bytecodes: no
    row is lost or doubled and every running-bridge chunk is exact."""
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        bridge, out = _concurrent_sessions(live_bridge, flush_rows=13, n=150, conns=8)
        before = _chunk_identities(out)
        bridge.stop()
    finally:
        sys.setswitchinterval(interval)
    assert all(len(ids) == 13 for ids in before.values())
    rows = [t for ids in _chunk_identities(out).values() for t in ids]
    assert sorted(rows) == sorted(f"{c}.{k}" for c in range(8) for k in range(150))


def test_malformed_frame_is_counted_and_contained(live_bridge):
    """One bad frame between good ones on an fstrm connection: every good
    frame lands, the bad one is counted, no reader dies, and the next
    connection is still served."""
    bridge, sock, out = live_bridge(readers=2, flush_rows=5)
    good = [f"0.{k}" for k in range(12)]
    payloads = [_dnstap(t) for t in good[:6]] + [b"\x0a\xff\xff\xff"] + [_dnstap(t) for t in good[6:]]
    assert _send_session(sock, payloads) == [br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert (bridge.frames_read, bridge.decode_errors) == (len(good), 1)
    assert all(t.is_alive() for t in bridge._threads)
    more = [f"1.{k}" for k in range(3)]
    assert _send_session(sock, [_dnstap(t) for t in more]) == [br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert (bridge.frames_read, bridge.decode_errors) == (len(good) + len(more), 1)
    bridge.stop()
    assert not any(t.is_alive() for t in bridge._threads)
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(good + more)


def test_frame_cut_short_by_disconnect_is_counted(live_bridge):
    """A bare sender sends one whole frame and half of the next, then
    closes: the whole frame lands and the cut one is counted."""
    bridge, sock, out = live_bridge(readers=1, flush_rows=5)
    whole, cut = (br._FRAME_HEADER.pack(len(p)) + p for p in (_dnstap("0.0"), _dnstap("0.1")))
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as c:
        c.connect(sock)
        c.sendall(whole + cut[: len(cut) // 2])
    deadline = time.time() + 10
    while bridge.decode_errors < 1 and time.time() < deadline:
        time.sleep(0.01)
    assert (bridge.frames_read, bridge.decode_errors) == (1, 1)
    assert all(t.is_alive() for t in bridge._threads)


def test_chunks_are_published_whole(live_bridge, monkeypatch):
    """A slow writer leaves a half-written file for a while; no
    ``chunk-*.parquet`` name may point at one (Spark would list it)."""
    real_write = pq.write_table

    def slow_write(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 half-written")
        time.sleep(0.05)
        real_write(table, where, **kw)

    monkeypatch.setattr(br.pq, "write_table", slow_write)
    bridge, sock, out = live_bridge(readers=2, flush_rows=10)
    seen: dict[str, int] = {}
    bad: list[str] = []
    done = threading.Event()

    def watch() -> None:
        while not done.is_set():
            for f in os.listdir(out):
                if f.startswith("chunk-") and f not in seen:
                    try:
                        seen[f] = pq.read_table(os.path.join(out, f)).num_rows
                    except Exception as exc:  # noqa: BLE001 - any unreadable file fails
                        bad.append(f"{f}: {exc}")
                        seen[f] = -1
            time.sleep(0.001)

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        _send_session(sock, [_dnstap(f"0.{k}") for k in range(60)])
        deadline = time.time() + 10
        while len(seen) < 6 and time.time() < deadline:
            time.sleep(0.01)
    finally:
        done.set()
        watcher.join(timeout=10)
    assert not watcher.is_alive()
    assert not bad
    assert sorted(seen.values()) == [10] * 6
    bridge.stop()
    assert all(f.startswith("chunk-") for f in os.listdir(out))  # no temp file left


def test_peer_leaving_during_handshake_keeps_the_reader(live_bridge):
    """A peer that sends READY and is gone before the ACCEPT reply must not
    kill the only reader: the next fstrm sender is still served whole."""
    bridge, sock, out = live_bridge(readers=1, flush_rows=5)
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as blocker:
        blocker.connect(sock)  # holds the one reader until it closes
        with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as quitter:
            quitter.connect(sock)
            quitter.sendall(br.encode_control_frame(br.FSTRM_READY, (_DNSTAP_CT,)))
    # the reader now takes the quitter, which closed before any reply
    frames = [f"0.{k}" for k in range(7)]
    assert _send_session(sock, [_dnstap(t) for t in frames]) == [br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert all(t.is_alive() for t in bridge._threads)
    bridge.stop()
    assert bridge.frames_read == len(frames)
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(frames)


def test_uncastable_dnstap_row_is_counted_and_its_chunk_salvaged(live_bridge):
    """A dnstap frame whose time does not fit ``timeSec`` (int64) sinks
    only itself: the other rows of its chunk are written, it moves from
    ``frames_read`` to ``decode_errors``, and the reader serves the next
    connection."""
    bridge, sock, out = live_bridge(readers=1, flush_rows=3)
    bad = encode_dnstap(message_type="CLIENT_QUERY", identity="0.bad", time_sec=2**63 + 1)
    good = ["0.0", "0.1"]
    assert _send_session(sock, [_dnstap(good[0]), bad, _dnstap(good[1])]) == [
        br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert (bridge.frames_read, bridge.decode_errors) == (2, 1)
    more = [f"1.{k}" for k in range(3)]
    assert _send_session(sock, [_dnstap(t) for t in more]) == [br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    assert all(t.is_alive() for t in bridge._threads)
    bridge.stop()
    written = [t for ids in _chunk_identities(out).values() for t in ids]
    assert sorted(written) == sorted(good + more)
    assert (len(written), bridge.decode_errors) == (bridge.frames_read, 1)


def test_bridge_needs_a_reader(tmp_path):
    """With no reader, connections would be accepted and never answered."""
    with pytest.raises(ValueError, match="readers"):
        SocketBridge(str(tmp_path / "b.sock"), str(tmp_path / "out"), readers=0)


def test_stop_closes_connections_no_reader_took(live_bridge):
    """One reader and three idle peers: one peer holds the reader, one
    waits in the queue and one in the accept thread. ``stop()`` returns at
    once, leaves no bridge thread behind and closes every peer."""
    bridge, sock, out = live_bridge(readers=1)
    peers = []
    for _ in range(3):
        c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        c.connect(sock)
        c.settimeout(5)
        peers.append(c)
    assert _wait_for(bridge._conns.full)
    time.sleep(0.3)  # the accept thread takes the third peer and waits for room
    t0 = time.monotonic()
    bridge.stop()
    assert time.monotonic() - t0 < 1
    assert not any(t.is_alive() for t in bridge._threads)
    for c in peers:
        with c:
            assert c.recv(1) == b""


# ------------------------------------------- decode processes and faults
#
# Each reader decodes in a forked process of its own. A forked process does
# not see a monkeypatch applied after ``start()``, so faults are injected by
# patching before it or by acting on a decode process's pid.


def _wait_for(cond, timeout: float = 10.0) -> bool:
    deadline = time.time() + timeout
    while not cond() and time.time() < deadline:
        time.sleep(0.01)
    return cond()


def _open_fstrm(path: str) -> socket.socket:
    """A live fstrm connection, READY/ACCEPT/START done."""
    c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    c.connect(path)
    c.sendall(br.encode_control_frame(br.FSTRM_READY, (_DNSTAP_CT,)))
    assert br._recv_control(c)[0] == br.FSTRM_ACCEPT
    c.sendall(br.encode_control_frame(br.FSTRM_START, (_DNSTAP_CT,)))
    return c


def _data(tags: list[str]) -> bytes:
    return b"".join(br._FRAME_HEADER.pack(len(p)) + p for p in map(_dnstap, tags))


def _finish(c: socket.socket) -> int:
    c.sendall(br.encode_control_frame(br.FSTRM_STOP))
    return br._recv_control(c)[0]


def _gone(pid: int) -> bool:
    """True once ``pid`` has exited and been reaped."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    return False


def test_killed_decode_process_is_replaced(live_bridge):
    """SIGKILL the only decode process in the middle of a stream: the
    reader forks a replacement, and the frames sent after the kill land."""
    bridge, sock, out = live_bridge(readers=1, flush_rows=1000)
    before, after = [f"0.{k}" for k in range(5)], [f"0.{k}" for k in range(5, 12)]
    with _open_fstrm(sock) as c:
        c.sendall(_data(before))
        assert _wait_for(lambda: bridge.frames_read == len(before))
        proc = bridge._workers[0][0]
        os.kill(proc.pid, 9)
        proc.join(timeout=10)
        assert not proc.is_alive()
        c.sendall(_data(after))
        assert _finish(c) == br.FSTRM_FINISH
        assert c.recv(1) == b""  # the replacement holds no copy of the connection
    assert (bridge.frames_read, bridge.decode_errors) == (len(before) + len(after), 0)
    replacement = bridge._workers[0][0]
    assert replacement.pid != proc.pid and replacement.is_alive()
    assert all(t.is_alive() for t in bridge._threads)
    bridge.stop()
    assert _gone(proc.pid) and _gone(replacement.pid)
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(before + after)


def test_decode_process_dying_on_a_batch_counts_its_frames(live_bridge, monkeypatch):
    """A decode process that dies while it holds a batch: that batch's
    frames are counted in ``decode_errors``, and the same reader carries on
    with a replacement process."""
    real = br._dnstap_row

    def die_on_poison(payload: bytes) -> tuple:
        if payload == b"poison":
            os._exit(1)
        return real(payload)

    monkeypatch.setattr(br, "_dnstap_row", die_on_poison)  # before start: forks copy it
    bridge, sock, out = live_bridge(readers=1, flush_rows=1000)
    first = bridge._workers[0][0]
    good = [f"0.{k}" for k in range(6)]
    with _open_fstrm(sock) as c:
        c.sendall(_data(good[:3]))
        assert _wait_for(lambda: bridge.frames_read == 3)
        c.sendall(br._FRAME_HEADER.pack(6) + b"poison")
        assert _wait_for(lambda: bridge.decode_errors == 1)
        c.sendall(_data(good[3:]))
        assert _finish(c) == br.FSTRM_FINISH
    assert (bridge.frames_read, bridge.decode_errors) == (len(good), 1)
    assert bridge._workers[0][0].pid != first.pid
    assert all(t.is_alive() for t in bridge._threads)
    bridge.stop()
    assert _gone(first.pid)
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(good)


def test_stop_reaps_every_decode_process(live_bridge):
    """No decode process outlives ``stop()``, and calling it again is
    harmless."""
    bridge, sock, out = live_bridge(readers=3, flush_rows=4)
    pids = [proc.pid for proc, _ in bridge._workers]
    assert len(set(pids)) == 3 and os.getpid() not in pids
    tags = [f"0.{k}" for k in range(10)]
    assert _send_session(sock, [_dnstap(t) for t in tags]) == [br.FSTRM_ACCEPT, br.FSTRM_FINISH]
    bridge.stop()
    bridge.stop()
    assert all(_gone(pid) for pid in pids)
    assert not any(t.is_alive() for t in bridge._threads)
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(tags)


def test_stop_without_start_is_answered_with_finish(live_bridge):
    """A sender that never sends START: its data frames are still taken
    in, and FINISH goes out only once every one of them is in the buffer."""
    bridge, sock, out = live_bridge(readers=2, flush_rows=1000)
    tags = [f"0.{k}" for k in range(40)]
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as c:
        c.settimeout(10)
        c.connect(sock)
        c.sendall(br.encode_control_frame(br.FSTRM_READY, (_DNSTAP_CT,)))
        assert br._recv_control(c)[0] == br.FSTRM_ACCEPT
        c.sendall(_data(tags) + br.encode_control_frame(br.FSTRM_STOP))
        assert br._recv_control(c)[0] == br.FSTRM_FINISH
        assert bridge.frames_read == len(tags)
        identity = br.SocketBridge._DNSTAP_SCHEMA.get_field_index("identity")
        assert sorted(r[identity] for r in bridge._rows) == sorted(tags)
    bridge.stop()


def test_malformed_frame_then_good_frames_on_a_live_connection(live_bridge):
    """A truncated dnstap frame on an open connection is counted, and the
    good frames sent after it on the same connection land, through the
    same reader thread and the same decode process."""
    bridge, sock, out = live_bridge(readers=1, flush_rows=1000)
    truncated = _dnstap("0.x")[:20]
    with pytest.raises(br._MALFORMED_FRAME_ERRORS):
        br._dnstap_row(truncated)
    proc, reader = bridge._workers[0][0], bridge._threads[1]
    tags = [f"0.{k}" for k in range(8)]
    with _open_fstrm(sock) as c:
        c.sendall(_data(tags[:4]))
        assert _wait_for(lambda: bridge.frames_read == 4)
        c.sendall(br._FRAME_HEADER.pack(len(truncated)) + truncated)
        assert _wait_for(lambda: bridge.decode_errors == 1)
        c.sendall(_data(tags[4:]))
        assert _finish(c) == br.FSTRM_FINISH
    assert (bridge.frames_read, bridge.decode_errors) == (len(tags), 1)
    assert bridge._workers[0][0] is proc and proc.is_alive() and reader.is_alive()
    bridge.stop()
    assert sorted(t for ids in _chunk_identities(out).values() for t in ids) == sorted(tags)


def _exited(pid: int) -> bool:
    """True once ``pid`` is gone or a zombie (its parent may be dead)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def test_decode_processes_exit_when_the_bridge_is_killed(tmp_path):
    """A bridge process killed outright leaves no decode process behind:
    each one holds no copy of another's pipe end, so each sees EOF."""
    import subprocess

    script = (
        "import sys, time\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
        "from dnstap2clickhouse_spark.sources.bridge import SocketBridge\n"
        f"b = SocketBridge({str(tmp_path / 'b.sock')!r}, {str(tmp_path / 'out')!r}, readers=3)\n"
        "b.start()\n"
        "print(*[p.pid for p, _ in b._workers], flush=True)\n"
        "time.sleep(60)\n"
    )
    with subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, text=True) as proc:
        try:
            pids = [int(p) for p in proc.stdout.readline().split()]
        finally:
            proc.kill()
    assert len(pids) == 3
    assert _wait_for(lambda: all(_exited(pid) for pid in pids))
