"""dnstap socket bridge: the S1-S5 ingestion path (SURVEY.md section 2.1).

The reference ingests dnstap directly: a unix-socket listener with
exponential-backoff retry and socket chmod (S1, dnstap.go:90-153), a
bidirectional framestream reader per connection (S2, dnstap.go:192-203),
protobuf decode (S3, dnstap.go:205-233), DNS wire-format unpack (S4,
dnstap.go:275-281/331-337), and N reader goroutines fanning in from one
connection channel (S5, dnstap.go:164-210, cap MAX_READERS=32).

Structured Streaming has no unix-socket source, and none is the idiomatic
answer: the Spark-native shape is a small *bridge daemon* that tails the
socket into parquet chunk files, which the daemon's
``__main__.read_events_source`` consumes with exactly-once file-source
semantics. This module is that daemon, with the reference's operational
behaviors preserved:

- S1: listener with the reference's backoff ladder (1,3,7,...s capped at
  60 — dnstap.go:112-124) while the socket directory doesn't exist, and
  chmod 0660 on the bound socket (dnstap.go:130-133);
- S2: Frame Streams per connection, with the bidirectional
  READY/ACCEPT/START/STOP/FINISH handshake and content-type negotiation
  (bare length-prefixed frames without a handshake are accepted too).
  Each ``recv`` is parsed with an offset cursor, and its complete data
  frames go on as one batch;
- S3/S4: frames are ``protobuf:dnstap.Dnstap``, decoded by the in-repo
  pure-Python codecs (``dnstap_proto`` for the protobuf, ``dnswire`` for
  the embedded DNS message) into the decode chain's raw-frame row, a
  tuple in chunk-schema order. It is the only frame format the bridge
  takes, so every chunk it writes has the one ``_DNSTAP_SCHEMA``. A frame
  that fails to decode, or whose row fails to cast to that schema, is
  dropped and counted in ``decode_errors``; ``frames_read`` counts the
  rows written;
- S5: a bounded pool of readers drains accepted connections from one
  queue (the reference's conn channel, cap 1 — dnstap.go:72). A reader is
  a socket thread plus a decode process of its own, forked by ``start()``
  before any bridge thread runs, so the readers decode in parallel as the
  reference's goroutines do instead of taking turns on one interpreter
  lock. A decode process that dies is replaced; the frames of the batch it
  held are counted in ``decode_errors``.

Hand-off and chunk files: the socket thread frames each ``recv`` and sends
its payloads down its decode process's pipe, which sends back the decoded
rows and the count of frames that failed. A row comes back as one tuple
in ``_DNSTAP_SCHEMA`` order, so the socket thread builds no dict per frame
when it loads a result and builds each chunk one typed column at a time.
One batch is in flight while the thread reads the next, so results come
back in order; before it handles any control frame, and whenever a
``recv`` times out, the thread takes in every batch still in flight, so
FINISH follows every row sent before STOP and an idle connection's rows
are not held back. Taking in appends the rows to the shared buffer in one
lock hold, cuts off chunks of exactly ``flush_rows`` rows, and writes them
after releasing the lock, so one reader's parquet write never stalls
another. Only ``flush()`` and ``stop()`` write a shorter chunk. Each file
is written under a dot-prefixed temp name, which Spark's file source
skips, and renamed to ``chunk-<uuid>.parquet`` once complete.
"""

from __future__ import annotations

import contextlib
import marshal
import multiprocessing
import os
import queue
import signal
import socket
import stat
import struct
import threading
import time
import uuid
from collections.abc import Iterator
from multiprocessing.connection import Connection

import pyarrow as pa
import pyarrow.parquet as pq

from . import dnstap_proto, dnswire

MAX_READERS = 32  # dnstap.go:38
#: decode processes are forked, not spawned: a spawned one would import the
#: package and pyarrow afresh (about half a second), also when it replaces
#: one that died mid-stream. A forked one uses nothing of the bridge but
#: its pipe and the pure-Python decoders, so it never takes a lock that
#: another thread held at the fork.
_FORK = multiprocessing.get_context("fork")
_FRAME_HEADER = struct.Struct(">I")  # 4-byte big-endian length prefix
#: what the frame decoder raises on a malformed frame (truncated fields,
#: bad varints or wire types, bad UTF-8/ASCII, wrong value types)
_MALFORMED_FRAME_ERRORS = (ValueError, IndexError, TypeError, AttributeError, struct.error)

# --------------------------------------------------------------- framestream
# Frame Streams (fstrm) control protocol, as spoken by dnstap senders over
# bidirectional unix sockets (reference: dnstap.go:192-203 via the
# golang-framestream library; public spec: farsightsec/fstrm
# fstrm/control.h). A data frame is a non-zero 4-byte BE length + payload.
# A ZERO length is the control-frame escape: the next 4 bytes are the
# control frame's length, then its payload = 4-byte BE control type plus
# optional (type, length, bytes) control fields.
FSTRM_ACCEPT = 0x01
FSTRM_START = 0x02
FSTRM_STOP = 0x03
FSTRM_READY = 0x04
FSTRM_FINISH = 0x05
FSTRM_FIELD_CONTENT_TYPE = 0x01
#: the one content type this bridge accepts (dnstap.go:192-203)
ACCEPTED_CONTENT_TYPES = (b"protobuf:dnstap.Dnstap",)

def encode_control_frame(ctype: int, content_types: tuple[bytes, ...] = ()) -> bytes:
    """Escape + length + control payload (type and CONTENT_TYPE fields)."""
    payload = _FRAME_HEADER.pack(ctype)
    for ct in content_types:
        payload += _FRAME_HEADER.pack(FSTRM_FIELD_CONTENT_TYPE) + _FRAME_HEADER.pack(len(ct)) + ct
    return _FRAME_HEADER.pack(0) + _FRAME_HEADER.pack(len(payload)) + payload

def parse_control_frame(payload: bytes) -> tuple[int, list[bytes]]:
    """Control payload -> (control type, content-type fields)."""
    (ctype,) = _FRAME_HEADER.unpack_from(payload)
    off, cts = _FRAME_HEADER.size, []
    while off + 2 * _FRAME_HEADER.size <= len(payload):
        (ftype,) = _FRAME_HEADER.unpack_from(payload, off)
        (flen,) = _FRAME_HEADER.unpack_from(payload, off + _FRAME_HEADER.size)
        off += 2 * _FRAME_HEADER.size
        if ftype == FSTRM_FIELD_CONTENT_TYPE:
            cts.append(payload[off : off + flen])
        off += flen
    return ctype, cts

def backoff_delays(cap: int = 60) -> Iterator[int]:
    """The reference's retry ladder: 1, 3, 7, 15, 31, 60, 60, ...
    (delay = delay*2 + 1 capped — dnstap.go:112-124)."""
    d = 1
    while True:
        yield d
        d = min(d * 2 + 1, cap)

def _dnstap_row(payload: bytes) -> tuple:
    """S3+S4 decode of one ``dnstap.Dnstap`` protobuf frame into a tuple in
    ``SocketBridge._DNSTAP_SCHEMA`` order, read straight off the protobuf
    fields (``dnstap_proto._decode_fields``) and the embedded DNS message
    (``dnswire.decode_message``). Fields are read in the order
    ``dnstap_proto.decode_dnstap`` reads them, so a malformed frame raises
    what it raises."""
    top = dnstap_proto._decode_fields(payload)
    frame_type = "MESSAGE" if top.get(15, 0) == dnstap_proto.DNSTAP_TYPE_MESSAGE else "OTHER"
    identity = top.get(1, b"").decode(errors="replace")
    if 14 not in top:
        return (frame_type, "", False, None, None, identity, "", None, None, None, None, [], b"")
    msg = dnstap_proto._decode_fields(top[14])
    mtype = msg.get(1, 0)
    message_type = dnstap_proto.MESSAGE_TYPES.get(mtype) or f"TYPE{mtype}"
    if message_type.endswith("_RESPONSE"):
        sec, nsec, dns_message = msg.get(12), msg.get(13), msg.get(14, b"")
    else:
        sec, nsec, dns_message = msg.get(8), msg.get(9), msg.get(10, b"")
    addr = msg.get(4, b"")
    address = socket.inet_ntoa(addr) if len(addr) == 4 else ".".join(map(str, addr))
    port = msg.get(6)
    if not dns_message:
        return (frame_type, message_type, False, sec, nsec, identity, address, port,
                None, None, None, [], addr)
    dns = dnswire.decode_message(dns_message)
    questions = dns["questions"]
    return (
        frame_type, message_type, True, sec, nsec, identity, address, port,
        questions[0][1] if questions else None, dns["rcode"], dns["id"],
        [name for name, _ in questions], addr,
    )

def decode_dnstap_protobuf(payload: bytes) -> dict:
    """Production S3+S4 decode: a ``dnstap.Dnstap`` protobuf frame ->
    one raw-frame row in the decode chain's input schema
    (``operators.prep._frame_exprs``): frameType, messageType,
    hasPayload, timeSec/timeNsec, identity, queryAddress, queryPort,
    qtypeCode, rcode, id, questionNames, addrBytes. The bridge itself
    keeps the tuple (``_dnstap_row``); this is its row-dict form.

    Uses the in-repo pure-Python wire codecs (``sources.dnstap_proto``
    for the protobuf layer, ``sources.dnswire`` for the embedded DNS
    message) — no protobuf runtime or generated classes needed. At Spark
    scale the same decode can instead run JVM-side via
    ``pyspark.sql.protobuf.functions.from_protobuf(col, "Dnstap",
    descFilePath=...)`` on raw binary columns (needs the spark-protobuf
    jar). Reference: dnstap.go:205-233 (protobuf), 275-281/331-337 (DNS
    unpack), 289-307/352-372 (projection).
    """
    return dict(zip(SocketBridge._DNSTAP_NAMES, _dnstap_row(payload)))

def _decode_process(pipe: Connection) -> None:
    """Body of a forked decode process: a list of payloads in, ``(rows,
    frames that failed to decode)`` out, in order, until the bridge's end
    of the pipe closes. A row is a tuple in ``_DNSTAP_SCHEMA`` order
    (``_dnstap_row``), which the bridge loads without building a dict per
    frame. The result goes back in ``marshal`` form, which both ends
    handle faster than pickle's for plain tuples, lists, strings and
    numbers, and which only this process writes. It builds no Arrow: the first pyarrow
    conversion in a fresh process costs about half a second, and at a
    paced rate a batch is often one frame, too small to pay for a table of
    its own.

    It first closes every socket the fork copied but its own pipe (the
    bridge's listener and connections, other decode processes' pipe
    ends): a peer then sees the bridge close a connection, and a decode
    process sees EOF once the bridge is gone. SIGINT and SIGTERM are the
    bridge's to handle, not its decode processes'."""
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    for name in os.listdir("/dev/fd"):
        fd = int(name)
        with contextlib.suppress(OSError):  # the listing's own descriptor is gone
            if fd > 2 and fd != pipe.fileno() and stat.S_ISSOCK(os.fstat(fd).st_mode):
                os.close(fd)
    while True:
        try:
            payloads = pipe.recv()
        except (EOFError, OSError):
            return
        rows: list[tuple] = []
        errors = 0
        for payload in payloads:
            try:
                rows.append(_dnstap_row(payload))
            except _MALFORMED_FRAME_ERRORS:
                errors += 1
        pipe.send_bytes(marshal.dumps((rows, errors)))

#: what casting decoded rows to the chunk schema raises on a row whose
#: values do not fit it: a wrong value type (Arrow), an integer wider
#: than 64 bits
_UNCASTABLE_ROW_ERRORS = (pa.ArrowException, OverflowError)

def _cast_rows(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """Decoded rows -> a table of ``schema``. The tuples are already in
    schema order and go in one typed column at a time."""
    arrays = [pa.array(col, f.type) for col, f in zip(zip(*rows), schema)]
    return pa.Table.from_arrays(arrays, schema=schema)

class SocketBridge:
    """Unix-socket -> parquet-chunk bridge daemon."""

    def __init__(
        self,
        socket_path: str,
        out_dir: str,
        readers: int = 2,
        flush_rows: int = 1000,
    ) -> None:
        if flush_rows < 1:
            raise ValueError(f"flush_rows must be at least 1, got {flush_rows}")
        if readers < 1:
            raise ValueError(f"readers must be at least 1, got {readers}")
        if readers > MAX_READERS:
            readers = MAX_READERS  # dnstap.go:38 hard cap
        self.socket_path = socket_path
        self.out_dir = out_dir
        self.readers = readers
        self.flush_rows = flush_rows
        self._conns: queue.Queue[socket.socket] = queue.Queue(maxsize=1)  # dnstap.go:72
        #: decoded rows not yet in a chunk
        self._rows: list[tuple] = []
        self._rows_lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._server: socket.socket | None = None
        #: reader i's decode process and the bridge's end of its pipe
        self._workers: list[tuple[multiprocessing.process.BaseProcess, Connection]] = []
        self._spawn_lock = threading.Lock()
        # A11-style stage counters (dnstap.go:380-386): frames decoded into
        # rows that were written, and frames dropped because they failed to
        # decode or to cast
        self.frames_read = 0
        self.decode_errors = 0

    # ------------------------------------------------------------- listen
    def start(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        sock_dir = os.path.dirname(self.socket_path)
        for delay in backoff_delays():
            if os.path.isdir(sock_dir):
                break
            if self._stop.wait(delay):  # S1 backoff while dir absent
                return
        # fork before any bridge thread runs or the socket is bound
        self._workers = [self._spawn() for _ in range(self.readers)]
        if os.path.exists(self.socket_path):
            os.unlink(self.socket_path)
        self._server = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        self._server.bind(self.socket_path)
        os.chmod(self.socket_path, stat.S_IRUSR | stat.S_IWUSR | stat.S_IRGRP | stat.S_IWGRP)  # 0660
        self._server.listen()
        self._server.settimeout(0.2)
        self._threads.append(threading.Thread(target=self._accept_loop, daemon=True))
        for i in range(self.readers):  # S5 fan-in pool
            self._threads.append(threading.Thread(target=self._read_loop, args=(i,), daemon=True))
        for t in self._threads:
            t.start()

    def _accept_loop(self) -> None:
        """Hand each accepted connection to the reader pool. While every
        reader is busy and the queue is full, it waits for room, and closes
        the connection if the bridge stops first."""
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except TimeoutError:
                continue
            except OSError:
                break
            while not self._stop.is_set():
                try:
                    self._conns.put(conn, timeout=0.2)
                    break
                except queue.Full:
                    continue
            else:
                conn.close()

    # ------------------------------------------------------------- decode
    def _spawn(self) -> tuple[multiprocessing.process.BaseProcess, Connection]:
        """Fork one decode process; returns it with the bridge's end of
        its pipe."""
        here, there = _FORK.Pipe()
        proc = _FORK.Process(target=_decode_process, args=(there,), daemon=True)
        proc.start()
        there.close()
        return proc, here

    def _replace_worker(self, i: int, lost: int) -> None:
        """Reader ``i``'s decode process is gone: count the ``lost``
        frames it held in ``decode_errors``, reap it and fork a replacement
        (unless the bridge is stopping)."""
        with self._rows_lock:
            self.decode_errors += lost
        with self._spawn_lock:
            proc, pipe = self._workers[i]
            pipe.close()
            proc.kill()
            proc.join()
            if not self._stop.is_set():
                self._workers[i] = self._spawn()

    def _send(self, i: int, payloads: list[bytes]) -> int:
        """Send a batch to reader ``i``'s decode process; returns the
        frames now in flight. A batch that finds the process gone goes to
        its replacement."""
        for _ in range(2):
            try:
                self._workers[i][1].send(payloads)
                return len(payloads)
            except OSError:
                self._replace_worker(i, 0)
        with self._rows_lock:
            self.decode_errors += len(payloads)
        return 0

    def _take_back(self, i: int, in_flight: int) -> bytes | None:
        """The marshalled result of the batch in flight at reader ``i``'s
        decode process, or None when the process died with it."""
        try:
            return self._workers[i][1].recv_bytes()
        except (EOFError, OSError):
            self._replace_worker(i, in_flight)
            return None

    # ------------------------------------------------------------- read
    def _handle_control(self, conn: socket.socket, payload: bytes) -> bool:
        """Bidirectional framestream handshake (receiver side).

        READY -> reply ACCEPT with our content types; START -> begin data
        (sender must have picked an overlapping type); STOP -> reply
        FINISH and end the stream. Returns False when the stream is done,
        also when a reply cannot be sent because the peer already left.
        Reference behavior: dnstap.go:192-203 (golang-framestream
        NewDecoder performs exactly this exchange).
        """
        ctype, cts = parse_control_frame(payload)
        if ctype == FSTRM_READY:
            try:
                conn.sendall(encode_control_frame(FSTRM_ACCEPT, ACCEPTED_CONTENT_TYPES))
            except OSError:
                return False
        elif ctype == FSTRM_START:
            if cts and cts[0] not in ACCEPTED_CONTENT_TYPES:
                return False  # protocol error: sender ignored our ACCEPT
        elif ctype == FSTRM_STOP:
            try:
                conn.sendall(encode_control_frame(FSTRM_FINISH))
            except OSError:
                pass
            return False
        return True

    def _read_frames(self, conn: socket.socket) -> Iterator[list[bytes]]:
        """S2: framestream reader. Yields the complete data frames of each
        ``recv`` as one list and handles control frames in stream order:
        the data frames before a control frame are yielded first, so every
        row sent before STOP is taken in before FINISH goes out. The
        buffer is parsed with an offset cursor and compacted once per
        ``recv``, never per frame.

        An empty list is a barrier: the reader takes in every batch it
        has in flight. One is yielded before each control frame, on each
        ``recv`` timeout and when the stream ends.

        Also accepts bare length-prefixed data with no handshake (a
        degenerate framestream session), so simple senders keep working.
        A frame cut short by EOF, a socket error or ``stop()`` is counted
        in ``decode_errors``.
        """
        hdr = _FRAME_HEADER.size
        unpack = _FRAME_HEADER.unpack_from
        buf = bytearray()
        conn.settimeout(0.2)
        while not self._stop.is_set():
            try:
                chunk = conn.recv(65536)
            except TimeoutError:
                yield []
                continue
            except OSError:
                break
            if not chunk:
                break
            buf += chunk
            frames: list[bytes] = []
            off, end = 0, len(buf)
            while end - off >= hdr:
                (n,) = unpack(buf, off)
                if n:  # data frame
                    if end - off < hdr + n:
                        break
                    frames.append(bytes(buf[off + hdr : off + hdr + n]))
                    off += hdr + n
                    continue
                # control-frame escape: a zero length, then the control length
                if end - off < 2 * hdr:
                    break
                (clen,) = unpack(buf, off + hdr)
                if end - off < 2 * hdr + clen:
                    break
                if frames:
                    yield frames
                    frames = []
                yield frames
                if not self._handle_control(conn, bytes(buf[off + 2 * hdr : off + 2 * hdr + clen])):
                    return
                off += 2 * hdr + clen
            if frames:
                yield frames
            del buf[:off]
        yield []
        if buf:
            with self._rows_lock:
                self.decode_errors += 1

    def _read_loop(self, i: int) -> None:
        """Reader ``i``: frames each connection's batches and keeps one
        batch in flight at its decode process while it reads the next. A
        result is loaded and taken in after the next batch is sent, so
        the decode process does not wait on that; the pipe still carries
        one message each way at a time, so neither end can block the
        other."""
        while not self._stop.is_set():
            try:
                conn = self._conns.get(timeout=0.2)
            except queue.Empty:
                continue
            with conn:
                in_flight = 0
                for payloads in self._read_frames(conn):
                    result = self._take_back(i, in_flight) if in_flight else None
                    in_flight = self._send(i, payloads) if payloads else 0
                    if result is not None:
                        self._take_in(*marshal.loads(result))

    def _take_in(self, rows: list[tuple], errors: int) -> None:
        """Append one decoded batch's rows to the shared buffer in one lock
        hold, cut every full chunk of exactly ``flush_rows`` rows off the
        buffer's head, and write those chunks after releasing the lock, so
        one reader's write never stalls another reader. ``errors`` frames
        of the batch failed to decode; each was dropped alone, and the rest
        of its batch and its reader carry on."""
        n = self.flush_rows
        with self._rows_lock:
            buffered = self._rows
            buffered.extend(rows)
            self.frames_read += len(rows)
            self.decode_errors += errors
            cut = len(buffered) - len(buffered) % n
            chunks = [buffered[i : i + n] for i in range(0, cut, n)]
            del buffered[:cut]
        for chunk in chunks:
            self._write_chunk(chunk)

    # ------------------------------------------------------------- write
    #: the chunk schema: the decode chain's raw-frame input schema
    #: (operators.prep._frame_exprs, minus synthetic event_id)
    _DNSTAP_SCHEMA = pa.schema(
        [
            ("frameType", pa.string()),
            ("messageType", pa.string()),
            ("hasPayload", pa.bool_()),
            ("timeSec", pa.int64()),
            ("timeNsec", pa.int64()),
            ("identity", pa.string()),
            ("queryAddress", pa.string()),
            ("queryPort", pa.int64()),
            ("qtypeCode", pa.int64()),
            ("rcode", pa.int64()),
            ("id", pa.int64()),
            ("questionNames", pa.list_(pa.string())),
            ("addrBytes", pa.binary()),
        ]
    )
    #: its column names once (``Schema.names`` builds a new list per call)
    _DNSTAP_NAMES = tuple(_DNSTAP_SCHEMA.names)

    def _write_chunk(self, rows: list[tuple]) -> None:
        """Write rows as one parquet chunk file, under a dot-prefixed temp
        name, which Spark's file source never lists, and then renamed to
        ``chunk-<uuid>.parquet``, so a reader sees a chunk whole or not at
        all. A chunk that does not cast to the schema is salvaged row by
        row (``_salvage``)."""
        try:
            table = _cast_rows(rows, self._DNSTAP_SCHEMA)
        except _UNCASTABLE_ROW_ERRORS:
            table = self._salvage(rows)
            if table is None:
                return
        name = f"chunk-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.out_dir, "." + name)
        try:
            pq.write_table(table, tmp)
        except BaseException:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise
        os.replace(tmp, os.path.join(self.out_dir, name))

    def _salvage(self, rows: list[tuple]) -> pa.Table | None:
        """Failure path of ``_write_chunk``: cast the chunk's rows one at a
        time and keep those that cast. Each row that does not is moved
        from ``frames_read`` to ``decode_errors``, so ``frames_read``
        stays equal to the rows written. Returns None when no row casts."""
        tables = []
        for row in rows:
            with contextlib.suppress(*_UNCASTABLE_ROW_ERRORS):
                tables.append(_cast_rows([row], self._DNSTAP_SCHEMA))
        bad = len(rows) - len(tables)
        with self._rows_lock:
            self.frames_read -= bad
            self.decode_errors += bad
        return pa.concat_tables(tables) if tables else None

    def flush(self) -> None:
        """Write every buffered row now, however few."""
        with self._rows_lock:
            rows, self._rows = self._rows, []
        if rows:
            self._write_chunk(rows)

    def stop(self) -> None:
        """Stop reading, close every connection no reader took, reap every
        decode process and write what is buffered. Safe to call more than
        once."""
        self._stop.set()
        for t in self._threads:
            t.join(timeout=5)
        with contextlib.suppress(queue.Empty):
            while True:
                self._conns.get_nowait().close()
        with self._spawn_lock:
            for proc, pipe in self._workers:
                pipe.close()
                proc.kill()
                proc.join()
        if self._server is not None:
            self._server.close()
        if os.path.exists(self.socket_path):
            os.unlink(self.socket_path)
        self.flush()

def _connect(socket_path: str, retries: int) -> socket.socket:
    """A test client's connection, retried every 0.1 s while the bridge
    is not yet listening."""
    for attempt in range(retries):
        c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            c.connect(socket_path)
            return c
        except OSError:
            c.close()
            if attempt == retries - 1:
                raise
            time.sleep(0.1)
    raise OSError("connect failed")

def send_frames(socket_path: str, payloads: list[bytes], retries: int = 20) -> None:
    """Test client: connect and send payloads as bare length-prefixed
    frames, with no handshake."""
    with _connect(socket_path, retries) as c:
        for payload in payloads:
            c.sendall(_FRAME_HEADER.pack(len(payload)) + payload)

def _recv_control(c: socket.socket, timeout: float = 5.0) -> tuple[int, list[bytes]]:
    """Read one control frame (escape + len + payload) off the socket."""
    c.settimeout(timeout)
    buf = b""
    while True:
        need = 2 * _FRAME_HEADER.size
        if len(buf) >= need:
            (zero,) = _FRAME_HEADER.unpack_from(buf)
            if zero != 0:
                raise ValueError(f"expected control escape, got data frame len={zero}")
            (clen,) = _FRAME_HEADER.unpack_from(buf, _FRAME_HEADER.size)
            if len(buf) >= need + clen:
                return parse_control_frame(buf[need : need + clen])
        chunk = c.recv(65536)
        if not chunk:
            raise ConnectionError("peer closed during control exchange")
        buf += chunk

def send_frames_fstrm(
    socket_path: str,
    payloads: list[bytes],
    content_type: bytes = b"protobuf:dnstap.Dnstap",
    retries: int = 20,
) -> None:
    """Test client speaking the full bidirectional framestream protocol:
    READY -> (ACCEPT) -> START -> data frames -> STOP -> (FINISH).
    Raises if the receiver's ACCEPT doesn't offer ``content_type``."""
    with _connect(socket_path, retries) as c:
        c.sendall(encode_control_frame(FSTRM_READY, (content_type,)))
        ctype, cts = _recv_control(c)
        if ctype != FSTRM_ACCEPT:
            raise ConnectionError(f"expected ACCEPT, got control type {ctype}")
        if content_type not in cts:
            raise ConnectionError(f"receiver does not accept {content_type!r}: {cts}")
        c.sendall(encode_control_frame(FSTRM_START, (content_type,)))
        for payload in payloads:
            c.sendall(_FRAME_HEADER.pack(len(payload)) + payload)
        c.sendall(encode_control_frame(FSTRM_STOP))
        ctype, _ = _recv_control(c)
        if ctype != FSTRM_FINISH:
            raise ConnectionError(f"expected FINISH, got control type {ctype}")
