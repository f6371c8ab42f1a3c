"""Engine daemon — the reference's bootstrap path, Spark-first.

Mirrors ``/root/reference/src/main.go:43-87``: parse flags (-config,
-loglevel; main.go:49-51) -> logging -> TOML config load (config.Load,
toml.go:165-197) -> wire stages -> run until SIGINT/SIGTERM
(main.go:95-115, 180-183).

The reference wires unix socket -> decoder goroutines -> aggregator ->
ClickHouse writer through channels. Here the same dataflow is:

    unix socket -> SocketBridge daemon (sources/bridge.py, S1-S5)
                -> parquet chunk files
                -> Structured Streaming file source
                -> the enabled aggregation branches (F3 plan gating)
                -> foreachBatch parquet sinks with K1 column mapping

Each output table is one streaming query triggered every WriteInterval —
the reference's flush timer (aggregator.go:535, 595-619) becomes the
trigger cadence; crash recovery is checkpointed (an upgrade over the
reference's in-memory maps, documented in ARCHITECTURE.md).

Usage:
    python -m dnstap2clickhouse_spark -config engine.toml \
        --socket /run/dnstap.sock --work-dir /var/lib/engine
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .operators.columns import apply_column_config
from .operators.dns_pipeline import client_query_table, client_response_table
from .session import get_spark
from .sources.bridge import SocketBridge
from .sources.events import BRIDGE_SCHEMA, dns_query_stream, dns_response_stream
from .streaming.stats import EngineStatsListener
from .toml_config import load_config

#: event-time delay before a window's state is evicted
STREAM_WATERMARK = "10 minutes"

def read_events_source(
    spark: SparkSession, cfg: EngineConfig, bridge_dir: str
) -> DataFrame:
    """The input stream: the socket bridge's chunk files."""
    return spark.readStream.schema(BRIDGE_SCHEMA).parquet(bridge_dir)

def build_streams(
    spark: SparkSession, cfg: EngineConfig, bridge_dir: str
) -> dict[str, DataFrame]:
    """F3 static plan gating (dnstap.go:253-255; aggregator.go:553-573):
    construct only the enabled branches. Each table is its batch builder
    run over the stream, plus a watermark that bounds the window state,
    so ``[aggregator]`` options such as ``aggregate = false`` apply here
    exactly as in batch. The response watermark is declared before the
    builder's F5 filter, so as written it tracks every response; Catalyst
    pushes F5 below it (F5 does not read the event-time column), so the
    executed plan's watermark sees the non-OK responses only."""
    events = read_events_source(spark, cfg, bridge_dir)
    out: dict[str, DataFrame] = {}
    agg = cfg.aggregator
    if agg.client_queries:
        q = dns_query_stream(spark, "", events=events)
        out["clientQuery"] = client_query_table(
            spark, "", agg, queries=q.withWatermark("queryTime", STREAM_WATERMARK)
        )
    if agg.non_ok_client_responses:
        r = dns_response_stream(spark, "", events=events)
        out["clientResponse"] = client_response_table(
            spark, "", agg, responses=r.withWatermark("responseTime", STREAM_WATERMARK)
        )
    return out

SINK_COLUMNS = {"clientQuery": "query_columns", "clientResponse": "response_columns"}

def start_queries(
    spark: SparkSession,
    cfg: EngineConfig,
    streams: dict[str, DataFrame],
    out_dir: str,
    available_now: bool = False,
) -> list:
    """One checkpointed streaming query per output table, each flushed on
    the WriteInterval cadence with the K1 column mapping applied."""
    queries = []
    for table, sdf in streams.items():
        mapping = getattr(cfg.sink, SINK_COLUMNS[table])
        writer = (
            sdf.writeStream.outputMode("update")
            .queryName(table)
            .option("checkpointLocation", os.path.join(out_dir, f"_chk_{table}"))
            .foreachBatch(
                _mapped_writer(os.path.join(out_dir, table), mapping)
            )
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{cfg.aggregator.write_interval_s} seconds"
            )
        queries.append(writer.start())
    return queries

def _mapped_writer(path: str, mapping: dict[str, str]):
    """K1-mapped append writer, versioned per epoch.

    Update mode re-emits a window's *cumulative* counters every trigger it
    changes in, and parquet append keeps every version — summing raw files
    would overcount (the reference instead drains-and-clears per flush,
    aggregator.go:595-619). Writing ``__epoch`` makes the re-emission
    explicit so ``read_output_table`` (or a ClickHouse ReplacingMergeTree,
    the production sink for exactly this shape) collapses to the latest
    version per key.
    """

    def write(df: DataFrame, epoch_id: int) -> None:
        mapped = apply_column_config(df, {k: v for k, v in mapping.items() if k in df.columns})
        mapped.withColumn("__epoch", F.lit(epoch_id)).write.mode("append").parquet(path)

    return write

def read_output_table(spark: SparkSession, path: str, counter_col: str = "counter") -> DataFrame:
    """Collapse update-mode re-emissions to the final value per key.

    Every column except the counter and ``__epoch`` is part of the key
    (window bounds + grouping-set dimensions); the latest epoch's counter
    is the cumulative truth for that key. One hash-shuffle on the key —
    at scale this is the same collapse ClickHouse's ReplacingMergeTree
    performs at merge time, done here engine-side for plain parquet."""
    df = spark.read.parquet(path)
    keys = [c for c in df.columns if c not in (counter_col, "__epoch")]
    return df.groupBy(*keys).agg(F.max_by(counter_col, "__epoch").alias(counter_col))

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
    bridge = SocketBridge(args.socket, bridge_dir)
    bridge.start()

    spark = get_spark("dnstap2clickhouse_spark")
    spark.sparkContext.setLogLevel(args.loglevel)
    listener = EngineStatsListener()
    spark.streams.addListener(listener)

    queries = start_queries(spark, cfg, build_streams(spark, cfg, bridge_dir), out_dir)

    stop = {"flag": False}

    def _shutdown(signum, frame):  # main.go:95-115
        stop["flag"] = True

    signal.signal(signal.SIGINT, _shutdown)
    signal.signal(signal.SIGTERM, _shutdown)
    try:
        while not stop["flag"]:
            signal.pause()
    finally:
        for q in queries:
            q.stop()
        bridge.stop()
        print("stats:", listener.read_and_reset(), file=sys.stderr)
        spark.stop()
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
