"""Pure-Python protobuf wire codec for the public dnstap schema.

S3 in SURVEY.md section 2.1: the reference parses each framestream data
frame as a ``dnstap.Dnstap`` protobuf (``dnstap.go:205-233``). This
environment has no protobuf runtime, but the protobuf *wire format* is a
small public spec (varints + tagged fields) and the dnstap schema is
public (farsightsec/dnstap ``dnstap.proto``), so the needed subset is
implemented directly — no generated classes, no dependency:

Field numbers (dnstap.proto):

- ``Dnstap``: identity=1 (bytes), version=2 (bytes), message=14
  (embedded ``Message``), type=15 (enum, ``MESSAGE``=1).
- ``Message``: type=1 (enum, ``CLIENT_QUERY``=5 / ``CLIENT_RESPONSE``=6
  among 14 kinds), socket_family=2, socket_protocol=3,
  query_address=4 (bytes), response_address=5 (bytes),
  query_port=6 (uint32), response_port=7 (uint32),
  query_time_sec=8 (uint64), query_time_nsec=9 (fixed32),
  query_message=10 (bytes), response_time_sec=12 (uint64),
  response_time_nsec=13 (fixed32), response_message=14 (bytes).

Wire types: 0 = varint, 2 = length-delimited, 5 = 32-bit (fixed32).
Unknown fields are skipped per the protobuf spec, so frames produced by
real dnstap senders (which may set extra fields) still decode.
"""

from __future__ import annotations

import struct

_FIXED32 = struct.Struct("<I")  # protobuf fixed32 is little-endian

DNSTAP_TYPE_MESSAGE = 1

MESSAGE_TYPES = {
    1: "AUTH_QUERY",
    2: "AUTH_RESPONSE",
    3: "RESOLVER_QUERY",
    4: "RESOLVER_RESPONSE",
    5: "CLIENT_QUERY",
    6: "CLIENT_RESPONSE",
    7: "FORWARDER_QUERY",
    8: "FORWARDER_RESPONSE",
    9: "STUB_QUERY",
    10: "STUB_RESPONSE",
    11: "TOOL_QUERY",
    12: "TOOL_RESPONSE",
    13: "UPDATE_QUERY",
    14: "UPDATE_RESPONSE",
}
MESSAGE_TYPE_CODES = {v: k for k, v in MESSAGE_TYPES.items()}


def encode_varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("negative varint unsupported in this subset")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(payload: bytes, off: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = payload[off]
        off += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, off
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _tag(field: int, wire_type: int) -> bytes:
    return encode_varint((field << 3) | wire_type)


def _field_varint(field: int, value: int) -> bytes:
    return _tag(field, 0) + encode_varint(value)


def _field_bytes(field: int, value: bytes) -> bytes:
    return _tag(field, 2) + encode_varint(len(value)) + value


def _field_fixed32(field: int, value: int) -> bytes:
    return _tag(field, 5) + _FIXED32.pack(value)


def _decode_fields(payload: bytes) -> dict[int, int | bytes]:
    """One pass over a message: field number -> its last value (int or
    bytes), protobuf's last-one-wins rule for non-repeated fields (every
    dnstap field this package reads is one). Unknown field numbers are
    kept (the caller simply ignores them) and unknown wire types raise,
    mirroring protobuf's skip semantics. Keys, varints and lengths below
    128 -- nearly all of them in a dnstap frame -- are read inline."""
    fields: dict[int, int | bytes] = {}
    off, end = 0, len(payload)
    while off < end:
        key = payload[off]
        if key < 0x80:
            off += 1
        else:
            key, off = decode_varint(payload, off)
        wire_type = key & 0x07
        if wire_type == 0:
            value = payload[off]
            if value < 0x80:
                off += 1
            else:
                value, off = decode_varint(payload, off)
        elif wire_type == 2:
            n = payload[off]
            if n < 0x80:
                off += 1
            else:
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
        fields[key >> 3] = value
    return fields


def encode_dnstap(
    *,
    message_type: str,
    identity: str = "",
    query_address: bytes = b"",
    query_port: int = 0,
    time_sec: int | None = None,
    time_nsec: int | None = None,
    dns_message: bytes = b"",
    dnstap_type: int = DNSTAP_TYPE_MESSAGE,
    socket_family: int = 1,  # INET
    socket_protocol: int = 1,  # UDP
) -> bytes:
    """Build a ``dnstap.Dnstap`` frame. Timestamps/port/payload land in
    the query_* or response_* fields according to ``message_type``, as
    real senders populate them."""
    is_response = message_type.endswith("_RESPONSE")
    msg = _field_varint(1, MESSAGE_TYPE_CODES[message_type])
    msg += _field_varint(2, socket_family) + _field_varint(3, socket_protocol)
    if query_address:
        msg += _field_bytes(4, query_address)
    if query_port:
        msg += _field_varint(6, query_port)
    if is_response:
        if time_sec is not None:
            msg += _field_varint(12, time_sec)
        if time_nsec is not None:
            msg += _field_fixed32(13, time_nsec)
        if dns_message:
            msg += _field_bytes(14, dns_message)
    else:
        if time_sec is not None:
            msg += _field_varint(8, time_sec)
        if time_nsec is not None:
            msg += _field_fixed32(9, time_nsec)
        if dns_message:
            msg += _field_bytes(10, dns_message)
    out = b""
    if identity:
        out += _field_bytes(1, identity.encode())
    out += _field_bytes(14, msg)
    out += _field_varint(15, dnstap_type)
    return out


def decode_dnstap(payload: bytes) -> dict:
    """``dnstap.Dnstap`` frame -> flat dict mirroring what the reference
    reads off the decoded protobuf (dnstap.go:242-307/331-372):
    frame/message types, identity, address/port, sec+nsec timestamp, and
    the raw embedded DNS message bytes (S4 decodes those separately)."""
    top = _decode_fields(payload)
    out: dict = {
        "frameType": "MESSAGE" if top.get(15, 0) == DNSTAP_TYPE_MESSAGE else "OTHER",
        "identity": top.get(1, b"").decode(errors="replace"),
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
    msg = _decode_fields(top[14])
    mtype = msg.get(1, 0)
    out["messageType"] = MESSAGE_TYPES.get(mtype, f"TYPE{mtype}")
    is_response = out["messageType"].endswith("_RESPONSE")
    sec_f, nsec_f, payload_f = (12, 13, 14) if is_response else (8, 9, 10)
    out["timeSec"] = msg.get(sec_f)
    out["timeNsec"] = msg.get(nsec_f)
    if 4 in msg:
        out["addrBytes"] = msg[4]
        out["queryAddress"] = ".".join(str(b) for b in msg[4])
    out["queryPort"] = msg.get(6)
    dns_message = msg.get(payload_f, b"")
    out["dnsMessage"] = dns_message
    out["hasPayload"] = bool(dns_message)
    return out
