"""S3's JVM-side decode path, exercised for real behind an availability
gate (r4 verdict item 7): ``pyspark.sql.protobuf.functions.from_protobuf``
over raw dnstap frames, using a dependency-free FileDescriptorSet built
with the repo's own protobuf wire codec.

descriptor.proto is itself a protobuf message with public field numbers,
so the descriptor set Spark needs (normally produced by
``protoc --descriptor_set_out --include_imports``) can be serialized
directly with ``sources.dnstap_proto``'s field helpers — no protobuf
runtime, no generated classes. The descriptor covers the same dnstap
subset the pure-Python decoder handles (dnstap.proto field numbers
documented in ``sources/dnstap_proto.py``; reference dnstap.go:205-233).

Gate: the JVM function needs the spark-protobuf jar
(``org.apache.spark:spark-protobuf_2.13:<spark version>``), which is not
bundled with the pyspark wheel. When absent the JVM test SKIPS with the
jar coordinate; the descriptor-construction tests always run.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from dnstap2clickhouse_spark.sources import dnstap_proto as dp

# ---- descriptor.proto field numbers (public, stable since proto2) ----
# FileDescriptorSet: file = 1 (repeated FileDescriptorProto)
# FileDescriptorProto: name=1, package=2, message_type=4, syntax=12
# DescriptorProto: name=1, field=2
# FieldDescriptorProto: name=1, number=3, label=4, type=5, type_name=6
_L_OPTIONAL = 1
_T_UINT64 = 4
_T_INT32 = 5
_T_FIXED32 = 7
_T_BYTES = 12
_T_UINT32 = 13
_T_MESSAGE = 11


def _fdp_field(name: str, number: int, ftype: int, type_name: str = "") -> bytes:
    f = dp._field_bytes(1, name.encode())
    f += dp._field_varint(3, number)
    f += dp._field_varint(4, _L_OPTIONAL)
    f += dp._field_varint(5, ftype)
    if type_name:
        f += dp._field_bytes(6, type_name.encode())
    return dp._field_bytes(2, f)  # DescriptorProto.field = 2


def _message(name: str, fields: bytes) -> bytes:
    return dp._field_bytes(4, dp._field_bytes(1, name.encode()) + fields)


def dnstap_file_descriptor_set() -> bytes:
    """A self-contained FileDescriptorSet for the dnstap subset the
    engine decodes. Enum-typed fields are declared int32 — identical
    varint wire format, no EnumDescriptorProto needed."""
    msg_fields = (
        _fdp_field("type", 1, _T_INT32)
        + _fdp_field("socket_family", 2, _T_INT32)
        + _fdp_field("socket_protocol", 3, _T_INT32)
        + _fdp_field("query_address", 4, _T_BYTES)
        + _fdp_field("response_address", 5, _T_BYTES)
        + _fdp_field("query_port", 6, _T_UINT32)
        + _fdp_field("response_port", 7, _T_UINT32)
        + _fdp_field("query_time_sec", 8, _T_UINT64)
        + _fdp_field("query_time_nsec", 9, _T_FIXED32)
        + _fdp_field("query_message", 10, _T_BYTES)
        + _fdp_field("response_time_sec", 12, _T_UINT64)
        + _fdp_field("response_time_nsec", 13, _T_FIXED32)
        + _fdp_field("response_message", 14, _T_BYTES)
    )
    dnstap_fields = (
        _fdp_field("identity", 1, _T_BYTES)
        + _fdp_field("version", 2, _T_BYTES)
        + _fdp_field("message", 14, _T_MESSAGE, ".dnstap.Message")
        + _fdp_field("type", 15, _T_INT32)
    )
    fdp = (
        dp._field_bytes(1, b"dnstap.proto")
        + dp._field_bytes(2, b"dnstap")
        + _message("Dnstap", dnstap_fields)
        + _message("Message", msg_fields)
    )
    return dp._field_bytes(1, fdp)  # FileDescriptorSet.file = 1


# ------------------------- descriptor construction is pinned ungated


def test_descriptor_set_wire_shape():
    """The hand-built descriptor set must be valid protobuf wire data
    carrying one file with package 'dnstap' and messages Dnstap+Message
    (decoded back with the repo's own wire decoder)."""
    blob = dnstap_file_descriptor_set()
    top = _fields(blob)
    assert list(top) == [1]
    fdp = _fields(top[1][0])
    assert fdp[1][0] == b"dnstap.proto"
    assert fdp[2][0] == b"dnstap"
    names = [_fields(m)[1][0] for m in fdp[4]]
    assert names == [b"Dnstap", b"Message"]
    # every declared field number must round-trip
    dnstap_fields = [_fields(f) for f in _fields(fdp[4][0])[2]]
    assert sorted(f[3][0] for f in dnstap_fields) == [1, 2, 14, 15]
    msg_fields = [_fields(f) for f in _fields(fdp[4][1])[2]]
    assert sorted(f[3][0] for f in msg_fields) == [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 13, 14]


def test_descriptor_field_types_match_wire_encoder():
    """Wire-type consistency: the types declared in the descriptor must
    match what encode_dnstap actually emits (varint/bytes/fixed32), or a
    JVM decode of our frames would fail on wire-type mismatch."""
    wire_type_of = {_T_INT32: 0, _T_UINT32: 0, _T_UINT64: 0, _T_BYTES: 2,
                    _T_MESSAGE: 2, _T_FIXED32: 5}
    blob = dnstap_file_descriptor_set()
    fdp = _fields(_fields(blob)[1][0])
    declared = {}  # (message, field number) -> wire type
    for m in fdp[4]:
        md = _fields(m)
        mname = md[1][0].decode()
        for f in md[2]:
            fd = _fields(f)
            declared[(mname, fd[3][0])] = wire_type_of[fd[5][0]]
    frame = dp.encode_dnstap(
        message_type="CLIENT_RESPONSE", identity="ns1",
        query_address=b"\x0a\x00\x00\x01", query_port=5353,
        time_sec=1_700_000_000, time_nsec=42, dns_message=b"\x00\x01",
    )
    for fnum, wt, payload in _iter_wire(frame):
        assert declared[("Dnstap", fnum)] == wt
        if fnum == 14:  # embedded Message
            for mf, mwt, _ in _iter_wire(payload):
                assert declared[("Message", mf)] == mwt


def _fields(payload: bytes) -> dict[int, list]:
    """Field number -> all its values in wire order (descriptor messages
    repeat fields, so no value may overwrite another)."""
    out: dict[int, list] = {}
    for fnum, _wt, val in _iter_wire(payload):
        out.setdefault(fnum, []).append(val)
    return out


def _iter_wire(payload: bytes):
    off = 0
    while off < len(payload):
        key, off = dp.decode_varint(payload, off)
        fnum, wt = key >> 3, key & 7
        if wt == 0:
            val, off = dp.decode_varint(payload, off)
            yield fnum, wt, val
        elif wt == 5:
            yield fnum, wt, payload[off:off + 4]
            off += 4
        elif wt == 2:
            ln, off = dp.decode_varint(payload, off)
            yield fnum, wt, payload[off:off + ln]
            off += ln
        else:  # pragma: no cover - encoder never emits other wire types
            raise AssertionError(f"unexpected wire type {wt}")


# ----------------------------- the JVM path, gated on jar presence


def test_from_protobuf_jvm_decode(spark):
    """Decode real dnstap frames JVM-side with from_protobuf and compare
    field-for-field against the pure-Python decoder. Skips (with the
    exact jar coordinate) when the spark-protobuf jar isn't on the
    classpath — pyspark wheels don't bundle it."""
    from pyspark.sql.protobuf.functions import from_protobuf

    frames = [
        dp.encode_dnstap(
            message_type="CLIENT_QUERY", identity="resolver-a",
            query_address=b"\x0a\x00\x00\x01", query_port=5353,
            time_sec=1_700_000_000, time_nsec=42, dns_message=b"\x00\x01",
        ),
        dp.encode_dnstap(
            message_type="CLIENT_RESPONSE", identity="resolver-b",
            query_address=b"\xc0\xa8\x01\x02", query_port=53,
            time_sec=1_700_000_100, time_nsec=7, dns_message=b"\x00\x02",
        ),
    ]
    with tempfile.NamedTemporaryFile(suffix=".desc", delete=False) as f:
        f.write(dnstap_file_descriptor_set())
        desc_path = f.name
    try:
        from pyspark.sql import functions as F

        try:
            # select() analyzes eagerly in classic pyspark, so the
            # jar-missing error can surface here OR at collect — the
            # whole pipeline sits inside one gate
            df = spark.createDataFrame(
                [(bytearray(p),) for p in frames], "payload binary"
            )
            rows = df.select(
                from_protobuf(
                    "payload", "dnstap.Dnstap", descFilePath=desc_path
                ).alias("d")
            ).select(
                F.col("d.identity").alias("identity"),
                F.col("d.type").alias("dnstap_type"),
                F.col("d.message.type").alias("msg_type"),
                F.col("d.message.query_port").alias("qport"),
                F.col("d.message.query_address").alias("qaddr"),
            ).collect()
        except Exception as ex:  # jar not on classpath
            msg = str(ex)
            if "ProtobufDataToCatalyst" in msg or "spark-protobuf" in msg or (
                "protobuf" in msg.lower() and "ClassNotFound" in msg
            ) or "PROTOBUF" in msg:
                pytest.skip(
                    "spark-protobuf jar not on classpath; add "
                    f"org.apache.spark:spark-protobuf_2.13:{spark.version} "
                    "(e.g. via spark.jars.packages) to run the JVM decode"
                )
            raise
        ref = [dp.decode_dnstap(p) for p in frames]
        for row, want in zip(rows, ref):
            assert bytes(row["identity"]).decode() == want["identity"]
            assert row["dnstap_type"] == dp.DNSTAP_TYPE_MESSAGE
            assert dp.MESSAGE_TYPES[row["msg_type"]] == want["messageType"]
            assert row["qport"] == want["queryPort"]
    finally:
        os.unlink(desc_path)
