"""Engine daemon — the reference's bootstrap path, Spark-first.

Mirrors ``/root/reference/src/main.go:43-87``: parse flags (-config,
-loglevel; main.go:49-51) -> logging -> TOML config load (config.Load,
toml.go:165-197) -> wire stages -> run until SIGINT/SIGTERM
(main.go:95-115, 180-183).

The reference wires unix socket -> decoder goroutines -> aggregator ->
ClickHouse writer through channels. Here the same dataflow is:

    unix socket -> SocketBridge daemon (sources/bridge.py, S1-S5)
                -> parquet chunk files of raw dnstap frames
                -> Structured Streaming file source
                -> one foreachBatch fan-out per micro-batch: per enabled
                   table (F3 plan gating), the F1-F4/P1-P7 decode chain
                   (operators/prep.py) and the table's batch builder
                -> per-epoch partial counts with K1 column mapping

The chunk directory may also hold events-shaped chunks (the ``events``
table's columns, as a replayed backlog is written): they go through the
canonical events mapping instead of the decode chain, and both kinds of
row are counted together.

The count tables keep no window state across triggers, as the reference
keeps none across flushes: every WriteInterval it drains and clears its
count maps (aggregator.go:595-619) and ClickHouse adds the partial rows
up. Here every trigger is one micro-batch; its partial counts land in
``<table>/__epoch=<N>/`` and ``read_output_table`` sums them, as a
SummingMergeTree would. Crash recovery is checkpointed, and a replayed
epoch overwrites its own partial counts (an upgrade over the reference's
in-memory maps, documented in ARCHITECTURE.md).

Usage:
    python -m dnstap2clickhouse_spark -config engine.toml \
        --socket /run/dnstap.sock --work-dir /var/lib/engine
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType, TimestampType

from .config import EngineConfig
from .operators.columns import apply_column_config
from .operators.dns_pipeline import client_query_table, client_response_table
from .operators.prep import decode_frames
from .session import get_spark
from .sources.bridge import SocketBridge
from .sources.events import BRIDGE_SCHEMA, dns_query_stream, dns_response_stream
from .streaming.stats import EngineStatsListener
from .toml_config import load_config

#: the one streaming query that writes every count table
COUNT_QUERY = "countTables"
#: partition column of the per-epoch partial counts
EPOCH_COL = "__epoch"
#: hidden window key of a partial count row: K1 drops ``windowStart`` and
#: may prune every other column that tells two windows apart
WINDOW_COL = "__windowStart"

#: the one schema of the chunk directory: the events columns plus the
#: bridge's dnstap raw-frame columns. A chunk reads the columns it lacks
#: as NULL, so an events row has no ``frameType`` and a dnstap row no
#: ``event_id``.
CHUNK_SCHEMA = StructType(BRIDGE_SCHEMA.fields + from_arrow_schema(SocketBridge._DNSTAP_SCHEMA).fields)

def read_events_source(
    spark: SparkSession, cfg: EngineConfig, bridge_dir: str
) -> DataFrame:
    """The input stream: the chunk files, in ``CHUNK_SCHEMA``."""
    return spark.readStream.schema(CHUNK_SCHEMA).parquet(bridge_dir)

def build_streams(
    spark: SparkSession, cfg: EngineConfig, bridge_dir: str
) -> tuple[DataFrame, dict[str, Callable[[DataFrame], DataFrame]]]:
    """The chunk stream, and F3 static plan gating (dnstap.go:253-255;
    aggregator.go:553-573): for each enabled table only, a function from
    one batch of chunk rows to its K1-mapped rows. Each is the table's
    batch builder, unchanged, so ``[aggregator]`` options such as
    ``aggregate = false`` apply exactly as in batch."""
    agg, sink = cfg.aggregator, cfg.sink
    tables: dict[str, Callable[[DataFrame], DataFrame]] = {}
    if agg.client_queries:
        tables["clientQuery"] = lambda ev: _k1(
            client_query_table(spark, "", agg, queries=_rows(spark, ev, dns_query_stream, "CLIENT_QUERY")),
            sink.query_columns,
        )
    if agg.non_ok_client_responses:
        tables["clientResponse"] = lambda ev: _k1(
            client_response_table(
                spark, "", agg, responses=_rows(spark, ev, dns_response_stream, "CLIENT_RESPONSE")
            ),
            sink.response_columns,
        )
    return read_events_source(spark, cfg, bridge_dir), tables

def _rows(
    spark: SparkSession, ev: DataFrame, events_mapping: Callable[..., DataFrame], kind: str
) -> DataFrame:
    """The query or response rows of one batch: events rows through the
    canonical mapping (a dnstap row's NULL ``event_id`` drops it there)
    and dnstap rows through the decode chain (an events row's NULL
    ``frameType`` drops it at F1)."""
    return events_mapping(spark, "", events=ev).unionByName(decode_frames(ev, kind))

def _k1(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """K1 column mapping, plus the window start of windowed counts as the
    hidden ``WINDOW_COL``."""
    mapping = {k: v for k, v in mapping.items() if k in df.columns}
    if "windowStart" in df.columns:
        df = df.withColumn(WINDOW_COL, F.col("windowStart"))
        mapping[WINDOW_COL] = WINDOW_COL
    return apply_column_config(df, mapping)

def start_queries(
    spark: SparkSession,
    cfg: EngineConfig,
    streams: tuple[DataFrame, dict[str, Callable[[DataFrame], DataFrame]]],
    out_dir: str,
    available_now: bool = False,
) -> list:
    """One checkpointed streaming query for all count tables, triggered on
    the WriteInterval cadence; ``_mapped_writer`` writes each micro-batch.
    Returns the queries started: none when F3 disables every table."""
    events, tables = streams
    if not tables:
        return []
    writer = (
        events.writeStream.queryName(COUNT_QUERY)
        .option("checkpointLocation", os.path.join(out_dir, f"_chk_{COUNT_QUERY}"))
        .foreachBatch(_mapped_writer(out_dir, tables))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.aggregator.write_interval_s} seconds")
    return [writer.start()]

def _mapped_writer(out_dir: str, tables: dict[str, Callable[[DataFrame], DataFrame]]):
    """foreachBatch fan-out: one micro-batch's partial counts for every
    table, drained and cleared per trigger as the reference drains its
    count maps per flush (aggregator.go:595-619).

    The batch is persisted once and every table's builder reads it. Each
    table's K1-mapped rows go to ``<out_dir>/<table>/__epoch=<N>/`` with
    overwrite, so an epoch that Spark replays after a crash replaces its
    partial counts instead of adding them a second time.
    """

    def write(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            for table, build in tables.items():
                build(batch).write.mode("overwrite").parquet(
                    os.path.join(out_dir, table, f"{EPOCH_COL}={epoch_id}")
                )
        finally:
            batch.unpersist()

    return write

def read_output_table(spark: SparkSession, path: str, counter_col: str = "counter") -> DataFrame:
    """Combine the per-epoch partial counts: one row per window and
    dimensions, with the sum of the counter and the earliest timestamp.
    That is what ClickHouse's SummingMergeTree does at merge time with the
    partial rows the reference inserts every flush; one hash shuffle on
    the key does it here for plain parquet. Returns exactly the K1-mapped
    columns. Rows written with ``aggregate = false`` carry no window and
    come back as written."""
    df = spark.read.parquet(path)
    cols = [c for c in df.columns if c not in (EPOCH_COL, WINDOW_COL)]
    if WINDOW_COL not in df.columns:
        return df.select(*cols)
    times = [f.name for f in df.schema.fields if f.name in cols and isinstance(f.dataType, TimestampType)]
    keys = [c for c in cols if c != counter_col and c not in times]
    return (
        df.groupBy(WINDOW_COL, *keys)
        .agg(*(F.min(t).alias(t) for t in times), F.sum(counter_col).alias(counter_col))
        .select(*cols)
    )

def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dnstap2clickhouse_spark")
    p.add_argument("-config", dest="config", default=None, help="TOML config path")
    p.add_argument("-loglevel", dest="loglevel", default="WARN")
    p.add_argument("--socket", required=True, help="dnstap unix-socket path")
    p.add_argument("--work-dir", required=True, help="bridge + output root")
    args = p.parse_args(argv)

    cfg = load_config(args.config)
    bridge_dir = os.path.join(args.work_dir, "bridge")
    out_dir = os.path.join(args.work_dir, "tables")

    # main.go:95-115. The handlers go in before the bridge starts: a
    # signal during the seconds Spark takes to start must still stop the
    # bridge, which writes every frame it has acknowledged. They only note
    # the signal; the main thread polls for it, so no lock is taken inside
    # a handler. SparkContext installs its own SIGINT handler, which raises
    # KeyboardInterrupt, so ours go in again once Spark is up.
    signals: list[int] = []

    def install_handlers() -> None:
        for sig in (signal.SIGINT, signal.SIGTERM):
            signal.signal(sig, lambda signum, frame: signals.append(signum))

    install_handlers()
    bridge = SocketBridge(args.socket, bridge_dir)
    spark, listener, queries = None, EngineStatsListener(), []
    try:
        bridge.start()
        spark = get_spark("dnstap2clickhouse_spark")
        install_handlers()
        spark.sparkContext.setLogLevel(args.loglevel)
        spark.streams.addListener(listener)
        if not signals:
            queries = start_queries(spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir)
        while not signals:
            time.sleep(0.2)
    finally:
        for q in queries:
            q.stop()
        bridge.stop()
        if spark is not None:
            print("stats:", listener.read_and_reset(), file=sys.stderr)
            spark.stop()
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
