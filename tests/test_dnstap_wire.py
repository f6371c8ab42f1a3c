"""S3/S4 with production encodings: dnstap protobuf frames carrying real
DNS wire-format messages, end-to-end through the bridge into the Spark
decode chain (VERDICT r2 'What's missing' #1).

Layers under test:
- ``sources.dnswire``: RFC 1035 header+question codec (what the
  reference reads via miekg/dns — dnstap.go:275-281, 331-337);
- ``sources.dnstap_proto``: protobuf wire codec for the public
  farsightsec/dnstap schema (dnstap.go:205-233);
- the socket bridge speaking ``protobuf:dnstap.Dnstap`` over the
  framestream handshake, flushing raw-frame parquet that
  ``operators.prep.decode_frames`` consumes directly.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pytest

from dnstap2clickhouse_spark.sources import dnswire
from dnstap2clickhouse_spark.sources.bridge import (
    SocketBridge,
    _cast_rows,
    _dnstap_row,
    decode_dnstap_protobuf,
)
from dnstap2clickhouse_spark.sources.dnstap_proto import (
    _FIXED32,
    DNSTAP_TYPE_MESSAGE,
    MESSAGE_TYPES,
    _field_bytes,
    _field_fixed32,
    _field_varint,
    _tag,
    decode_dnstap,
    decode_varint,
    encode_dnstap,
    encode_varint,
)

# ----------------------------------------------------------------- varint

@pytest.mark.parametrize("n", [0, 1, 127, 128, 300, 2**31 - 1, 2**32, 2**63 - 1])
def test_varint_round_trip(n):
    got, off = decode_varint(encode_varint(n), 0)
    assert got == n and off == len(encode_varint(n))

# ---------------------------------------------------------------- dnswire

def test_dns_name_round_trip():
    wire = dnswire.encode_name("host1.example.com.")
    assert wire == b"\x05host1\x07example\x03com\x00"
    name, end = dnswire.decode_name(wire, 0)
    assert name == "host1.example.com." and end == len(wire)

def test_dns_name_compression_pointer():
    # 'www.example.com.' at 0, then a pointer-name 'mail' + ptr->offset 4
    base = dnswire.encode_name("www.example.com.")
    ptr = b"\x04mail" + b"\xc0\x04"  # pointer to 'example.com.' at offset 4
    payload = base + ptr
    name, end = dnswire.decode_name(payload, len(base))
    assert name == "mail.example.com."
    assert end == len(payload)

@pytest.mark.parametrize("payload", [
    b"\xc0\x00",  # a pointer to itself
    b"\xc0\x02\xc0\x00",  # two pointers to each other
    b"\x01a\x01b\xc0\x02",  # labels, then a pointer back into them
])
def test_dns_name_compression_loop_raises(payload):
    with pytest.raises(ValueError, match="loop"):
        dnswire.decode_name(payload, 0)

def test_dns_message_round_trip():
    wire = dnswire.encode_message(
        0xBEEF,
        [("a.example.com.", 1), ("b.example.org.", 28)],
        is_response=True,
        rcode=3,
    )
    got = dnswire.decode_message(wire)
    assert got["id"] == 0xBEEF
    assert got["is_response"] is True
    assert got["rcode"] == 3
    assert got["questions"] == [("a.example.com.", 1), ("b.example.org.", 28)]

# ------------------------------------------------------------ dnstap proto

def _frame(kind: str, *, rcode: int = 0, dns_id: int = 77) -> bytes:
    dns = dnswire.encode_message(
        dns_id,
        [("host9.example.com.", 28)],
        is_response=kind.endswith("_RESPONSE"),
        rcode=rcode,
    )
    return encode_dnstap(
        message_type=kind,
        identity="ns1",
        query_address=bytes([10, 0, 3, 7]),
        query_port=5353,
        time_sec=1_760_000_000,
        time_nsec=250_000_000,
        dns_message=dns,
    )

def test_dnstap_protobuf_field_fidelity():
    frame = decode_dnstap(_frame("CLIENT_RESPONSE", rcode=3))
    assert frame["frameType"] == "MESSAGE"
    assert frame["messageType"] == "CLIENT_RESPONSE"
    assert frame["identity"] == "ns1"
    assert frame["queryAddress"] == "10.0.3.7"
    assert frame["queryPort"] == 5353
    assert frame["timeSec"] == 1_760_000_000
    assert frame["timeNsec"] == 250_000_000
    dns = dnswire.decode_message(frame["dnsMessage"])
    assert dns["rcode"] == 3 and dns["id"] == 77

def test_dnstap_query_uses_query_fields():
    """Queries populate fields 8/9/10; responses 12/13/14 — both must
    land in the same normalized row (the reference's per-kind branches,
    dnstap.go:260-268)."""
    q = decode_dnstap(_frame("CLIENT_QUERY"))
    assert q["messageType"] == "CLIENT_QUERY"
    assert q["timeSec"] == 1_760_000_000 and q["hasPayload"]

def test_dnstap_unknown_fields_skipped():
    """Real senders set fields this subset doesn't model (version,
    query_zone); protobuf skip semantics must hold."""
    raw = _frame("CLIENT_QUERY")
    raw = _field_bytes(2, b"dnstap-tool 1.0") + raw  # Dnstap.version
    frame = decode_dnstap(raw)
    assert frame["messageType"] == "CLIENT_QUERY" and frame["identity"] == "ns1"

# -------------------------------------------- decoder equivalence (oracle)
#
# The dict-of-lists walker, the ``decode_dnstap`` body that used it and the
# row-dict ``decode_dnstap_protobuf`` body composed over them, kept
# verbatim as the reference the single-pass walker and the bridge's tuple
# rows must match. The perfbench ingest check derives its expected rows
# from the same ``decode_dnstap_protobuf``, so this is the only guard on
# its output.


def _oracle_decode_fields(payload: bytes) -> dict[int, list]:
    """Generic decode: field number -> list of raw values (int or bytes).
    Unknown wire types raise; unknown field numbers are preserved (the
    caller simply ignores them) — mirroring protobuf's skip semantics."""
    fields: dict[int, list] = {}
    off = 0
    while off < len(payload):
        key, off = decode_varint(payload, off)
        field, wire_type = key >> 3, key & 0x07
        if wire_type == 0:
            value, off = decode_varint(payload, off)
        elif wire_type == 2:
            n, off = decode_varint(payload, off)
            value = payload[off : off + n]
            off += n
        elif wire_type == 5:
            (value,) = _FIXED32.unpack_from(payload, off)
            off += _FIXED32.size
        elif wire_type == 1:  # 64-bit, not used by dnstap but skippable
            value = int.from_bytes(payload[off : off + 8], "little")
            off += 8
        else:
            raise ValueError(f"unsupported wire type {wire_type}")
        fields.setdefault(field, []).append(value)
    return fields


def _oracle_decode_dnstap(payload: bytes) -> dict:
    top = _oracle_decode_fields(payload)
    dnstap_type = top.get(15, [0])[-1]
    out: dict = {
        "frameType": "MESSAGE" if dnstap_type == DNSTAP_TYPE_MESSAGE else "OTHER",
        "identity": top.get(1, [b""])[-1].decode(errors="replace"),
        "messageType": None,
        "hasPayload": False,
        "timeSec": None,
        "timeNsec": None,
        "queryAddress": None,
        "queryPort": None,
        "dnsMessage": b"",
    }
    if 14 not in top:
        return out
    msg = _oracle_decode_fields(top[14][-1])
    mtype = msg.get(1, [0])[-1]
    out["messageType"] = MESSAGE_TYPES.get(mtype, f"TYPE{mtype}")
    is_response = out["messageType"].endswith("_RESPONSE")
    sec_f, nsec_f, payload_f = (12, 13, 14) if is_response else (8, 9, 10)
    if sec_f in msg:
        out["timeSec"] = msg[sec_f][-1]
    if nsec_f in msg:
        out["timeNsec"] = msg[nsec_f][-1]
    if 4 in msg:
        out["addrBytes"] = msg[4][-1]
        out["queryAddress"] = ".".join(str(b) for b in msg[4][-1])
    if 6 in msg:
        out["queryPort"] = msg[6][-1]
    dns_message = msg.get(payload_f, [b""])[-1]
    out["dnsMessage"] = dns_message
    out["hasPayload"] = bool(dns_message)
    return out


def _oracle_decode_row(payload: bytes) -> dict:
    frame = _oracle_decode_dnstap(payload)
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


def _assert_matches_oracle(payload: bytes) -> None:
    """The new decoders equal the oracle, or all raise the same type."""
    for new, old in ((decode_dnstap, _oracle_decode_dnstap),
                     (decode_dnstap_protobuf, _oracle_decode_row)):
        try:
            want = old(payload)
        except Exception as exc:  # noqa: BLE001 - the type is the check
            with pytest.raises(type(exc)):
                new(payload)
            continue
        assert new(payload) == want


def _message(*fields: bytes) -> bytes:
    return _field_bytes(14, b"".join(fields))


_DNS2 = dnswire.encode_message(
    0xBEEF, [("a.example.com.", 1), ("b.example.org.", 28)], is_response=True, rcode=2
)

_EQUIVALENCE_CASES = {
    "non-message frame": encode_dnstap(message_type="CLIENT_QUERY", dnstap_type=2),
    "foreign message type": _frame("AUTH_QUERY"),
    "unknown message type": _message(_field_varint(1, 99), _field_varint(6, 53))
    + _field_varint(15, 1),
    "no message at all": _field_bytes(1, b"ns1") + _field_varint(15, 1),
    "payload-less": encode_dnstap(message_type="CLIENT_RESPONSE", identity="ns1",
                                  query_address=bytes([10, 0, 0, 1]), query_port=53),
    "missing time and port": encode_dnstap(
        message_type="CLIENT_QUERY", query_address=bytes([10, 0, 0, 1]),
        dns_message=dnswire.encode_message(5, [("x.example.", 1)]),
    ),
    "two-question DNS message": encode_dnstap(
        message_type="CLIENT_RESPONSE", query_port=5353, time_sec=1_760_000_000,
        time_nsec=1, dns_message=_DNS2,
    ),
    "multi-byte varints": encode_dnstap(
        message_type="CLIENT_QUERY", identity="n" * 128, query_port=65535, time_sec=2**40 + 3,
        time_nsec=999_999_999,
        dns_message=dnswire.encode_message(0xFFFF, [("y.example.", 255)]),
    ),
    "repeated fields, last wins": _field_bytes(1, b"first")
    + _message(_field_varint(1, 5), _field_varint(6, 1), _field_bytes(4, b"\x01\x02\x03\x04"),
               _field_varint(8, 7), _field_varint(1, 6), _field_varint(6, 300),
               _field_bytes(4, b"\x0a\x00\x00\x09"), _field_varint(12, 8),
               _field_bytes(14, _DNS2))
    + _field_varint(15, 2) + _field_bytes(1, b"second") + _field_varint(15, 1),
    "repeated embedded message": _message(_field_varint(1, 5)) + _frame("CLIENT_RESPONSE"),
    "unknown fields and wire type 1": _tag(20, 1) + (2**63 + 5).to_bytes(8, "little")
    + _field_bytes(3, b"?") + _field_fixed32(16, 7)
    + _message(_tag(40, 1) + bytes(8), _field_varint(1, 5), _field_varint(99, 2**35),
               _field_fixed32(11, 3), _field_varint(6, 200))
    + _field_varint(15, 1),
    "16-byte address": encode_dnstap(
        message_type="CLIENT_QUERY", query_address=bytes(range(250, 256)) + bytes(10),
        query_port=443, time_sec=1, time_nsec=2,
        dns_message=dnswire.encode_message(1, [("v6.example.", 28)]),
    ),
}


@pytest.mark.parametrize("case", sorted(_EQUIVALENCE_CASES))
def test_decoder_matches_oracle(case):
    _assert_matches_oracle(_EQUIVALENCE_CASES[case])


def _dict_rows_table(rows: list[dict]) -> pa.Table:
    """The row-dict-to-Arrow step perfbench's ingest check uses."""
    schema = SocketBridge._DNSTAP_SCHEMA
    return pa.Table.from_pylist(rows).select(schema.names).cast(schema)


@pytest.mark.parametrize("case", sorted(_EQUIVALENCE_CASES))
def test_tuple_rows_cast_to_the_dict_rows_table(case):
    """A chunk the bridge builds from its tuple rows equals the table of
    the oracle's row dicts, for the frame alone and in one chunk with
    every other case."""
    schema = SocketBridge._DNSTAP_SCHEMA
    for payloads in ([_EQUIVALENCE_CASES[case]], list(_EQUIVALENCE_CASES.values())):
        got = _cast_rows([_dnstap_row(p) for p in payloads], schema)
        assert got.equals(_dict_rows_table([_oracle_decode_row(p) for p in payloads]))


@pytest.mark.parametrize("payload", [
    b"\x0a\xff\xff\xff",  # length varint runs off the end
    b"\x0b\x00",  # wire type 3 (start group)
    _tag(1, 5) + b"\x01\x02",  # truncated fixed32
    b"\x08" + b"\xff" * 10 + b"\x01",  # varint longer than 64 bits
    _message(b"\x0f"),  # embedded message: wire type 7
    _field_varint(1, 3),  # identity as a varint
    _field_varint(14, 3),  # message as a varint
    _message(_field_varint(4, 3)),  # address as a varint
    _message(_field_varint(1, 5), _field_bytes(10, b"\x00\x01")),  # DNS header cut short
])
def test_malformed_frame_raises_in_both(payload):
    with pytest.raises(Exception):
        _oracle_decode_row(payload)
    _assert_matches_oracle(payload)


def test_decoder_matches_oracle_on_generated_frames():
    from hypothesis import given, settings
    from hypothesis import strategies as hs

    label = hs.text("abcxyz0", min_size=1, max_size=5)
    dns = hs.builds(
        lambda i, qs, resp, rc: dnswire.encode_message(i, qs, is_response=resp, rcode=rc),
        hs.integers(0, 0xFFFF),
        hs.lists(hs.tuples(hs.lists(label, max_size=3).map(lambda ls: ".".join(ls) + "."),
                           hs.integers(0, 0xFFFF)), max_size=3),
        hs.booleans(), hs.integers(0, 15),
    )
    varint = hs.integers(0, 2**64 - 1)
    unknown = hs.one_of(
        hs.builds(_field_varint, hs.integers(16, 60), varint),
        hs.builds(_field_bytes, hs.integers(16, 60), hs.binary(max_size=20)),
        hs.builds(_field_fixed32, hs.integers(16, 60), hs.integers(0, 2**32 - 1)),
        hs.builds(lambda f, v: _tag(f, 1) + v, hs.integers(16, 60), hs.binary(min_size=8, max_size=8)),
    )
    msg_field = hs.one_of(
        hs.builds(_field_varint, hs.sampled_from([1]), hs.integers(0, 20)),
        hs.builds(_field_varint, hs.sampled_from([2, 3, 6, 7, 8, 12]), varint),
        hs.builds(_field_bytes, hs.sampled_from([4, 5]), hs.binary(max_size=16)),
        hs.builds(_field_fixed32, hs.sampled_from([9, 13]), hs.integers(0, 2**32 - 1)),
        hs.builds(_field_bytes, hs.sampled_from([10, 14]), dns),
        unknown,
    )
    top_field = hs.one_of(
        hs.builds(_field_bytes, hs.sampled_from([1, 2]), hs.binary(max_size=12)),
        hs.builds(_field_varint, hs.just(15), hs.integers(0, 3)),
        hs.lists(msg_field, max_size=12).map(lambda fs: _message(*fs)),
        unknown,
    )

    @settings(max_examples=400, deadline=None)
    @given(hs.lists(top_field, max_size=6).map(b"".join))
    def check(payload):
        _assert_matches_oracle(payload)

    check()


def test_decoder_matches_oracle_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as hs

    @settings(max_examples=400, deadline=None)
    @given(hs.binary(max_size=64))
    def check(payload):
        _assert_matches_oracle(payload)

    check()

# ------------------------------------------------------------- end-to-end

def test_protobuf_frames_through_bridge_to_decode_chain(spark):
    """The full production path: Dnstap protobuf frames over the
    framestream handshake -> bridge -> raw-frame parquet ->
    prep.decode_frames -> typed Query/Response rows."""
    from dnstap2clickhouse_spark.operators import prep
    from dnstap2clickhouse_spark.sources.bridge import SocketBridge, send_frames_fstrm

    frames = [
        _frame("CLIENT_QUERY", dns_id=11),
        _frame("CLIENT_RESPONSE", rcode=0, dns_id=11),
        _frame("CLIENT_RESPONSE", rcode=3, dns_id=12),
        _frame("AUTH_QUERY", dns_id=13),  # F2 drops foreign kinds
    ]
    with tempfile.TemporaryDirectory() as d:
        sock = os.path.join(d, "dnstap.sock")
        out = os.path.join(d, "chunks")
        bridge = SocketBridge(sock, out, readers=1, flush_rows=10_000)
        bridge.start()
        try:
            send_frames_fstrm(sock, frames, content_type=b"protobuf:dnstap.Dnstap")
            for _ in range(100):
                if bridge.frames_read >= len(frames):
                    break
                import time

                time.sleep(0.05)
            assert bridge.frames_read == len(frames)
        finally:
            bridge.stop()

        raw = spark.read.parquet(out)
        assert raw.count() == len(frames)

        resp = prep.decode_frames(raw, "CLIENT_RESPONSE").orderBy("id").collect()
        assert [r.id for r in resp] == [11, 12]
        assert [r.responseStatus for r in resp] == ["NOERROR", "NXDOMAIN"]
        assert [r.isSuccess for r in resp] == [True, False]
        assert all(r.questionName == "host9.example.com." for r in resp)
        assert all(r.questionType == "AAAA" for r in resp)  # qtype 28
        assert all(r.queryPort == 5353 and r.identity == "ns1" for r in resp)
        # P1: sec+nsec assembly (nsec floor-divided to micros)
        assert all(
            int(r.responseTime.timestamp() * 1_000_000)
            == 1_760_000_000 * 1_000_000 + 250_000
            for r in resp
        )

        q = prep.decode_frames(raw, "CLIENT_QUERY").collect()
        assert len(q) == 1 and q[0].id == 11 and q[0].counter == 1
        # P2 over the real address bytes
        addrs = prep.decode_addresses(raw.selectExpr("id AS event_id", "addrBytes"))
        assert all(r.clientAddress == "10.0.3.7" for r in addrs.collect())
