"""dnstap socket bridge: the S1-S5 ingestion path (SURVEY.md section 2.1).

The reference ingests dnstap directly: a unix-socket listener with
exponential-backoff retry and socket chmod (S1, dnstap.go:90-153), a
bidirectional framestream reader per connection (S2, dnstap.go:192-203),
protobuf decode (S3, dnstap.go:205-233), DNS wire-format unpack (S4,
dnstap.go:275-281/331-337), and N reader goroutines fanning in from one
connection channel (S5, dnstap.go:164-210, cap MAX_READERS=32).

Structured Streaming has no unix-socket source, and none is the idiomatic
answer: the Spark-native shape is a small *bridge daemon* that tails the
socket into parquet chunk files (or Kafka), which the daemon's
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
  the embedded DNS message) into the decode chain's raw-frame row. JSON
  and a binary stand-in for events rows ride the same frame layer. A
  frame that fails to decode, or whose row fails to cast to its chunk
  schema, is dropped and counted in ``decode_errors``; ``frames_read``
  counts the rows written;
- S5: a bounded pool of reader threads drains accepted connections from
  one queue (the reference's conn channel, cap 1 — dnstap.go:72).

Hand-off and chunk files: a reader decodes its batch without holding a
lock, appends the rows to the shared buffer in one lock hold, cuts off
chunks of exactly ``flush_rows`` rows, and writes them after releasing
the lock, so one reader's parquet write never stalls another. Only
``flush()`` and ``stop()`` write a shorter chunk. Each file is written
under a dot-prefixed temp name, which Spark's file source skips, and
renamed to ``chunk-<uuid>.parquet`` once complete.
"""

from __future__ import annotations

import contextlib
import json
import os
import queue
import socket
import stat
import struct
import threading
import time
import uuid
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

MAX_READERS = 32  # dnstap.go:38
_FRAME_HEADER = struct.Struct(">I")  # 4-byte big-endian length prefix
#: what the frame decoders raise on a malformed frame (truncated fields,
#: bad varints or wire types, bad UTF-8/ASCII or JSON, wrong value types)
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
#: content types this bridge accepts: real dnstap protobuf plus the two
#: local stand-in encodings carried by the same frame layer
ACCEPTED_CONTENT_TYPES = (
    b"protobuf:dnstap.Dnstap",
    b"application/json",
    b"application/x-bridge-binary",
)

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

#: binary frame layout: magic 0x01, then event_id/ts_us/user_id (int64) +
#: value (float64), then two length-prefixed UTF-8 strings. Stands in for
#: the dnstap protobuf wire encoding (dnstap.go:205-233) with the same
#: shape: fixed header + variable-length payload fields.
_BIN_MAGIC = 0x01
_BIN_FIXED = struct.Struct(">qqqd")
_BIN_STR = struct.Struct(">H")

def encode_binary_frame(row: dict) -> bytes:
    """Encode an event row in the bridge's binary frame format."""
    et = row["event_type"].encode()
    pr = row["props"].encode()
    return (
        bytes([_BIN_MAGIC])
        + _BIN_FIXED.pack(row["event_id"], row["ts_us"], row["user_id"], row["value"])
        + _BIN_STR.pack(len(et))
        + et
        + _BIN_STR.pack(len(pr))
        + pr
    )

def decode_binary_frame(payload: bytes) -> dict:
    event_id, ts_us, user_id, value = _BIN_FIXED.unpack_from(payload, 1)
    off = 1 + _BIN_FIXED.size
    (n,) = _BIN_STR.unpack_from(payload, off)
    off += _BIN_STR.size
    event_type = payload[off : off + n].decode()
    off += n
    (n,) = _BIN_STR.unpack_from(payload, off)
    off += _BIN_STR.size
    props = payload[off : off + n].decode()
    return {
        "event_id": event_id,
        "ts_us": ts_us,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": props,
    }

def decode_dnstap_protobuf(payload: bytes) -> dict:
    """Production S3+S4 decode: a ``dnstap.Dnstap`` protobuf frame ->
    one raw-frame row in the decode chain's input schema
    (``operators.prep._frame_exprs``): frameType, messageType,
    hasPayload, timeSec/timeNsec, identity, queryAddress, queryPort,
    qtypeCode, rcode, id, questionNames, addrBytes.

    Uses the in-repo pure-Python wire codecs (``sources.dnstap_proto``
    for the protobuf layer, ``sources.dnswire`` for the embedded DNS
    message) — no protobuf runtime or generated classes needed. At Spark
    scale the same decode can instead run JVM-side via
    ``pyspark.sql.protobuf.functions.from_protobuf(col, "Dnstap",
    descFilePath=...)`` on raw binary columns (needs the spark-protobuf
    jar). Reference: dnstap.go:205-233 (protobuf), 275-281/331-337 (DNS
    unpack), 289-307/352-372 (projection).
    """
    from . import dnstap_proto, dnswire

    frame = dnstap_proto.decode_dnstap(payload)
    row = {
        "frameType": frame["frameType"],
        "messageType": frame["messageType"] or "",
        "hasPayload": frame["hasPayload"],
        "timeSec": frame["timeSec"],
        "timeNsec": frame["timeNsec"],
        "identity": frame["identity"],
        "queryAddress": frame["queryAddress"] or "",
        "queryPort": frame["queryPort"],
        "qtypeCode": None,
        "rcode": None,
        "id": None,
        "questionNames": [],
        "addrBytes": frame.get("addrBytes", b""),
    }
    if frame["hasPayload"]:
        dns = dnswire.decode_message(frame["dnsMessage"])
        row["id"] = dns["id"]
        row["rcode"] = dns["rcode"]
        row["questionNames"] = [name for name, _ in dns["questions"]]
        if dns["questions"]:
            row["qtypeCode"] = dns["questions"][0][1]
    return row

def _decode_frame(payload: bytes) -> dict:
    """S3/S4 plug point: frame bytes -> row dict.

    Sniffs the frame format: ``{`` -> JSON row; magic 0x01 -> the binary
    layout above; anything else is parsed as a dnstap protobuf frame
    (``decode_dnstap_protobuf``).
    """
    if payload[:1] == b"{":
        return json.loads(payload)
    if payload[:1] == bytes([_BIN_MAGIC]):
        return decode_binary_frame(payload)
    return decode_dnstap_protobuf(payload)

#: what casting decoded rows to a chunk schema raises on a row whose
#: values do not fit it: a wrong value type (Arrow), a column missing
#: from every row (``select``), an integer wider than 64 bits
_UNCASTABLE_ROW_ERRORS = (pa.ArrowException, KeyError, OverflowError)

def _cast_rows(rows: list[dict], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist(rows).select(schema.names).cast(schema)

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
        if readers > MAX_READERS:
            readers = MAX_READERS  # dnstap.go:38 hard cap
        self.socket_path = socket_path
        self.out_dir = out_dir
        self.readers = readers
        self.flush_rows = flush_rows
        self._conns: queue.Queue[socket.socket | None] = queue.Queue(maxsize=1)  # dnstap.go:72
        self._rows: list[dict] = []
        self._rows_lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._server: socket.socket | None = None
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
        if os.path.exists(self.socket_path):
            os.unlink(self.socket_path)
        self._server = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        self._server.bind(self.socket_path)
        os.chmod(self.socket_path, stat.S_IRUSR | stat.S_IWUSR | stat.S_IRGRP | stat.S_IWGRP)  # 0660
        self._server.listen()
        self._server.settimeout(0.2)
        self._threads.append(threading.Thread(target=self._accept_loop, daemon=True))
        for _ in range(self.readers):  # S5 fan-in pool
            self._threads.append(threading.Thread(target=self._read_loop, daemon=True))
        for t in self._threads:
            t.start()

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except TimeoutError:
                continue
            except OSError:
                break
            self._conns.put(conn)

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
                if not self._handle_control(conn, bytes(buf[off + 2 * hdr : off + 2 * hdr + clen])):
                    return
                off += 2 * hdr + clen
            if frames:
                yield frames
            del buf[:off]
        if buf:
            with self._rows_lock:
                self.decode_errors += 1

    def _read_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn = self._conns.get(timeout=0.2)
            except queue.Empty:
                continue
            if conn is None:
                return
            with conn:
                for payloads in self._read_frames(conn):
                    self._take_in(payloads)

    def _take_in(self, payloads: list[bytes]) -> None:
        """Decode one batch of frames outside the lock, append its rows to
        the shared buffer in one lock hold, cut every full chunk of exactly
        ``flush_rows`` rows off the buffer's head, and write those chunks
        after releasing the lock, so one reader's write never stalls
        another reader. A frame that fails to decode is counted in
        ``decode_errors`` and dropped alone: the rest of its batch and its
        reader carry on."""
        rows: list[dict] = []
        errors = 0
        for payload in payloads:
            try:
                rows.append(_decode_frame(payload))
            except _MALFORMED_FRAME_ERRORS:
                errors += 1
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
    #: events-row chunks (JSON / binary bridge codecs)
    _EVENTS_SCHEMA = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts_us", pa.int64()),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    #: dnstap raw-frame chunks (protobuf codec) — the decode chain's
    #: input schema (operators.prep._frame_exprs, minus synthetic event_id)
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

    def _write_chunk(self, rows: list[dict]) -> None:
        """Write rows as parquet chunk files, one per row shape (dnstap raw
        frames and events rows never mix schemas within a file). Each file
        is written under a dot-prefixed temp name, which Spark's file
        source never lists, and then renamed to ``chunk-<uuid>.parquet``,
        so a reader sees a chunk whole or not at all. A chunk that does
        not cast to its schema is salvaged row by row (``_salvage``)."""
        for shape, schema in (("dnstap", self._DNSTAP_SCHEMA), ("events", self._EVENTS_SCHEMA)):
            part = [r for r in rows if ("frameType" in r) == (shape == "dnstap")]
            if not part:
                continue
            try:
                table = _cast_rows(part, schema)
            except _UNCASTABLE_ROW_ERRORS:
                table = self._salvage(part, schema)
                if table is None:
                    continue
            if shape == "events":
                # micros -> timestamp column matching the events table schema
                # UTC-tagged (isAdjustedToUTC=true) so Spark reads TIMESTAMP
                # (LTZ), the type event-time watermarks require — untagged
                # micros would surface as TIMESTAMP_NTZ
                table = table.set_column(
                    1, "ts", table.column("ts_us").cast(pa.timestamp("us", tz="UTC"))
                )
            name = f"chunk-{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(self.out_dir, "." + name)
            try:
                pq.write_table(table, tmp)
            except BaseException:
                with contextlib.suppress(OSError):
                    os.unlink(tmp)
                raise
            os.replace(tmp, os.path.join(self.out_dir, name))

    def _salvage(self, rows: list[dict], schema: pa.Schema) -> pa.Table | None:
        """Failure path of ``_write_chunk``: cast the chunk's rows one at a
        time and keep those that cast. Each row that does not is moved
        from ``frames_read`` to ``decode_errors``, so ``frames_read``
        stays equal to the rows written. Returns None when no row casts."""
        tables = []
        for row in rows:
            with contextlib.suppress(*_UNCASTABLE_ROW_ERRORS):
                tables.append(_cast_rows([row], schema))
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
        self._stop.set()
        for t in self._threads:
            t.join(timeout=5)
        if self._server is not None:
            self._server.close()
        if os.path.exists(self.socket_path):
            os.unlink(self.socket_path)
        self.flush()

def send_frames(
    socket_path: str, rows: list[dict], retries: int = 20, codec: str = "json"
) -> None:
    """Test client: connect and send rows as length-prefixed frames
    (``codec``: 'json' or 'binary')."""
    last: Exception | None = None
    for _ in range(retries):
        try:
            c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            c.connect(socket_path)
            break
        except OSError as exc:
            last = exc
            time.sleep(0.1)
    else:
        raise last or OSError("connect failed")
    enc = encode_binary_frame if codec == "binary" else (lambda r: json.dumps(r).encode())
    with c:
        for row in rows:
            payload = enc(row)
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
    rows: list[dict],
    content_type: bytes = b"application/json",
    retries: int = 20,
) -> None:
    """Test client speaking the full bidirectional framestream protocol:
    READY -> (ACCEPT) -> START -> data frames -> STOP -> (FINISH).
    Raises if the receiver's ACCEPT doesn't offer ``content_type``."""
    last: Exception | None = None
    for _ in range(retries):
        try:
            c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            c.connect(socket_path)
            break
        except OSError as exc:
            last = exc
            time.sleep(0.1)
    else:
        raise last or OSError("connect failed")
    if content_type == b"application/x-bridge-binary":
        enc = encode_binary_frame
    elif content_type == b"protobuf:dnstap.Dnstap":
        enc = lambda r: r  # rows are pre-encoded Dnstap frames (bytes)
    else:
        enc = lambda r: json.dumps(r).encode()
    with c:
        c.sendall(encode_control_frame(FSTRM_READY, (content_type,)))
        ctype, cts = _recv_control(c)
        if ctype != FSTRM_ACCEPT:
            raise ConnectionError(f"expected ACCEPT, got control type {ctype}")
        if content_type not in cts:
            raise ConnectionError(f"receiver does not accept {content_type!r}: {cts}")
        c.sendall(encode_control_frame(FSTRM_START, (content_type,)))
        for row in rows:
            payload = enc(row)
            c.sendall(_FRAME_HEADER.pack(len(payload)) + payload)
        c.sendall(encode_control_frame(FSTRM_STOP))
        ctype, _ = _recv_control(c)
        if ctype != FSTRM_FINISH:
            raise ConnectionError(f"expected FINISH, got control type {ctype}")
