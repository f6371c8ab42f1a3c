"""Kafka-shaped production source (S5 alternative transport).

The file-source stream (``streaming.pipeline.read_events_stream``) stands
in for the dnstap unix socket in tests; a production deployment tails the
socket into Kafka (via the bridge daemon) and reads it here. This module
makes the "one-line swap" claim concrete code: :func:`read_events_kafka`
returns a stream with the SAME projected schema as the parquet chunk
stream, so every downstream operator (the batch table builders in
``operators.dns_pipeline`` etc.) binds unchanged.

Record contract: each Kafka record's ``value`` is one frame payload in a
bridge codec — JSON events row (the normal case), or the binary/dnstap
wire formats that ``sources.bridge._decode_frame`` sniffs.

Decode strategy:

- ``codec='json'`` (default): ``from_json`` on the value — pure JVM,
  whole-stage-codegen'd, the 100 TB path;
- ``codec='auto'``: Arrow-batched ``mapInPandas`` through the bridge's
  sniffing codec — needed only when a topic mixes wire formats, costs a
  Python hop per batch.

The actual Kafka reader requires the ``spark-sql-kafka`` package on the
session classpath (not shipped in this environment); ``source_df``
injects any DataFrame with the Kafka wire schema (``key``/``value``
binary, topic/partition/offset metadata) in its place — a batch frame for
unit tests or a file-backed stream for end-to-end runs. The decode logic
is identical either way, which is exactly what the double verifies.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: projected schema — matches sources/tables.load_table('events') and the
#: bridge's events chunk files (bridge.py _EVENTS_SCHEMA + ts cast)
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
#: the wire row emitted by from_json before the ts_us -> ts projection
_JSON_DDL = (
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

def read_events_kafka(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "latest",
    codec: str = "json",
    source_df: DataFrame | None = None,
) -> DataFrame:
    """Events stream from Kafka — same schema as ``read_events_stream``.

    Kafka partitions map 1:1 onto Spark input partitions, so source
    parallelism is the topic's partition count; producers should key
    records by the aggregation identity (or leave unkeyed for round-robin)
    — the engine re-shuffles on its own keys anyway, so no co-partitioning
    contract is required from the producer side.
    """
    raw = source_df
    if raw is None:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    return decode_event_values(raw, codec=codec)

def decode_event_values(raw: DataFrame, codec: str = "json") -> DataFrame:
    """Kafka wire rows -> events rows (see module docstring for paths)."""
    if codec == "json":
        return (
            raw.select(
                F.from_json(F.col("value").cast("string"), _JSON_DDL).alias("r")
            )
            .select("r.*")
            .select(
                "event_id",
                F.timestamp_micros("ts_us").alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
    if codec == "auto":
        return raw.select("value").mapInPandas(_decode_auto, EVENTS_DDL)
    raise ValueError(f"codec {codec!r} not understood: expected 'json' or 'auto'")

def _decode_auto(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
    """Arrow batch -> sniffing codec -> events rows. Frames that decode to
    the dnstap raw-frame shape (no event_id) are dropped here — a mixed
    topic routes those to the dnstap chain, not the events chain."""
    import pandas as pd

    from .bridge import _decode_frame

    for pdf in batches:
        rows = []
        for payload in pdf["value"]:
            row = _decode_frame(bytes(payload))
            if "event_id" in row:
                rows.append(row)
        if not rows:
            continue
        # reindex null-fills missing optional keys — same semantics as the
        # bridge file path (pa.Table.from_pylist), so a record omitting
        # e.g. 'props' degrades to NULL instead of killing the stream
        out = pd.DataFrame(rows).reindex(
            columns=["event_id", "ts_us", "user_id", "event_type", "value", "props"]
        )
        out["ts"] = pd.to_datetime(out.pop("ts_us"), unit="us", utc=True)
        yield out[["event_id", "ts", "user_id", "event_type", "value", "props"]]

# --------------------------------------------------- dnstap frame flavor

#: the bridge's raw-frame chunk schema (bridge.py _DNSTAP_SCHEMA) as DDL —
#: the decode chain's input shape
DNSTAP_DDL = (
    "frameType STRING, messageType STRING, hasPayload BOOLEAN, "
    "timeSec BIGINT, timeNsec BIGINT, identity STRING, "
    "queryAddress STRING, queryPort BIGINT, qtypeCode BIGINT, "
    "rcode BIGINT, id BIGINT, questionNames ARRAY<STRING>, addrBytes BINARY"
)

_DNSTAP_COLS = [f.strip().split(" ")[0] for f in DNSTAP_DDL.split(",")]

def read_dnstap_kafka(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "latest",
    source_df: DataFrame | None = None,
) -> DataFrame:
    """Raw dnstap frames from Kafka — same schema as the bridge daemon's
    parquet chunks, so the DNS decode chain binds unchanged. Values are
    dnstap protobuf frames (or the bridge's JSON/binary codecs — the
    sniffing decoder handles all three); decode runs in Arrow batches
    (``mapInPandas``), the protobuf work parallelizing across Kafka
    partitions exactly like the bridge's reader fan-in (cap story in
    sources/bridge.py)."""
    raw = source_df
    if raw is None:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    return raw.select("value").mapInPandas(_decode_dnstap_values, DNSTAP_DDL)

def _decode_dnstap_values(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
    """Arrow batch -> sniffing codec -> dnstap raw-frame rows (frames that
    decode to events rows are dropped — they belong to the events chain)."""
    import pandas as pd

    from .bridge import _decode_frame

    for pdf in batches:
        rows = []
        for payload in pdf["value"]:
            row = _decode_frame(bytes(payload))
            if "frameType" in row:
                rows.append(row)
        if not rows:
            continue
        # reindex: null-fill missing optional fields (bridge file-path
        # semantics) instead of KeyError-ing the stream
        yield pd.DataFrame(rows).reindex(columns=_DNSTAP_COLS)
