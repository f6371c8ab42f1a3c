"""Minimal DNS wire-format codec (RFC 1035), dependency-free.

S4 in SURVEY.md section 2.1: the reference unpacks the dnstap frame's
embedded DNS message with miekg/dns (``dnstap.go:275-281`` queries,
``331-337`` responses) and reads ``Id``, ``Rcode``, and the question
section's ``Name``/``Qtype``. This module implements exactly that subset
of RFC 1035 — header + question section — so real DNS wire bytes can
flow through the bridge without any third-party DNS library:

- header: ID, flags (QR/opcode/AA/TC/RD/RA/Z/RCODE), section counts;
- question entries: QNAME as length-prefixed labels (decode follows
  RFC 1035 section 4.1.4 compression pointers; encode never emits them),
  QTYPE, QCLASS.

Names round-trip in the miekg/dns presentation form the reference's
rows carry: fully qualified with a trailing dot (``q.Question[0].Name``).
"""

from __future__ import annotations

import struct

_HEADER = struct.Struct(">HHHHHH")  # id, flags, qd, an, ns, ar
_U16 = struct.Struct(">H")

QCLASS_IN = 1


def encode_name(name: str) -> bytes:
    """Presentation-form name ('a.example.com.' or '') -> wire labels."""
    out = b""
    for label in name.rstrip(".").split("."):
        if not label:
            continue
        raw = label.encode("ascii")
        if len(raw) > 63:
            raise ValueError(f"label too long: {label!r}")
        out += bytes([len(raw)]) + raw
    return out + b"\x00"


def decode_name(payload: bytes, off: int) -> tuple[str, int]:
    """Wire labels at ``off`` -> (presentation name with trailing dot,
    offset after the name). Follows compression pointers (0b11-prefixed
    16-bit offsets) without ever following one twice (loop guard: offsets
    only grow between pointers, so every loop passes one pointer again)."""
    labels: list[str] = []
    jumped = False
    end = off
    pointers: set[int] = set()
    while True:
        n = payload[off]
        if n & 0xC0 == 0xC0:  # compression pointer
            if off in pointers:
                raise ValueError("compression pointer loop")
            pointers.add(off)
            (ptr,) = _U16.unpack_from(payload, off)
            if not jumped:
                end = off + 2
            off = ptr & 0x3FFF
            jumped = True
            continue
        off += 1
        if n == 0:
            if not jumped:
                end = off
            break
        labels.append(payload[off : off + n].decode("ascii"))
        off += n
    return ".".join(labels) + ".", end


def encode_message(
    dns_id: int,
    questions: list[tuple[str, int]],
    *,
    is_response: bool = False,
    rcode: int = 0,
) -> bytes:
    """Header + question section; answer sections stay empty (the
    reference reads none of them)."""
    flags = (0x8000 if is_response else 0) | (rcode & 0x0F)
    out = _HEADER.pack(dns_id, flags, len(questions), 0, 0, 0)
    for qname, qtype in questions:
        out += encode_name(qname) + _U16.pack(qtype) + _U16.pack(QCLASS_IN)
    return out


def decode_message(payload: bytes) -> dict:
    """Wire message -> {id, is_response, rcode, questions:[(name, qtype)]}."""
    dns_id, flags, qdcount, _an, _ns, _ar = _HEADER.unpack_from(payload)
    off = _HEADER.size
    questions: list[tuple[str, int]] = []
    for _ in range(qdcount):
        name, off = decode_name(payload, off)
        (qtype,) = _U16.unpack_from(payload, off)
        off += 2 * _U16.size  # qtype + qclass
        questions.append((name, qtype))
    return {
        "id": dns_id,
        "is_response": bool(flags & 0x8000),
        "rcode": flags & 0x0F,
        "questions": questions,
    }
