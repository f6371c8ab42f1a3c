"""Spark workloads: ``stream`` and ``library``.

Both time the calls the benchmark makes into the engine's public
functions, and read the engine's own counters from outside: per-batch
``StreamingQuery.recentProgress`` and the driver JVM's MXBeans. Each run
is one fresh process with one session. Outputs are checked after the
timing.

- ``stream``: catch-up after a restart. The fresh session drains the
  backlog once, cold, as a restarted daemon meets it, then serves the
  DNS dashboard census (the Grafana query surface) from the warmed
  session, timed pass after pass for the run's ``--seconds``.
- ``library``: one census pass over the library operators as a fixed
  warm-up (part of set-up: the compile cost paid once per restart),
  then timed passes for the run's ``--seconds``. Each query reports the
  median of its timed executions.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import time

from . import gen
from .trace import jvm_times, median, percentile

#: DNS dashboard census: the Grafana query surface. ``dns_stateful_match``
#: is left out: one call costs 12.7 s at 10k events (70 s at 100k), more
#: than a whole run's measuring window (see BASELINE.md).
DASHBOARD = [
    "dns_client_query_agg",
    "dns_client_response_agg",
    "dns_response_time_join",
    "dns_match_once",
    "dns_pipeline_e2e",
    "dns_decode_queries",
    "dns_decode_responses",
    "dns_q1_top_addresses",
    "dns_q2_top_nxdomain",
    "dns_q3_nonok_series",
    "dns_q4_latency_series",
]
LIBRARY = [
    "dedup_containment_prefix",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "dedup_minhash_lsh",
    "sim_ivf_topk",
    "mm_image_ahash",
]
LIBRARY_DOCS, LIBRARY_VECS, LIBRARY_ORDERS = 300, 200, 5_000
STREAM_BASE_EVENTS, STREAM_REPLICAS, CHUNK_ROWS = 6_000, 2, 1000
STREAM_TABLES = ("clientQuery", "clientResponse", "clientQueryResponseTime")
PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
          "commitOffsets", "triggerExecution")


def start_session(tracer):
    from dnstap2clickhouse_spark.session import get_spark

    with tracer.span("session.start"):
        return get_spark("perfbench")


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it leaves on
    its own once its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- census


def census_pass(spark, sf_dir: str, names: list[str], label: str, tracer) -> dict:
    """One pass: each query is timed as plan build (the ``queries()``
    call) plus execution, collecting its result, which is checked
    afterwards. Returns (plan s, exec s, result or None) per query."""
    import __spark_entry__ as entry

    qs, out = entry.queries(), {}
    with tracer.span(f"{label}.pass"):
        for n in names:
            with tracer.span(n):
                t0 = time.perf_counter()
                try:
                    with tracer.span("plan"):
                        df = qs[n](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("exec"):
                        result = df.toPandas()
                except Exception as e:  # noqa: BLE001 - counted as failed; the pass goes on
                    print(f"{n}: {type(e).__name__}: {e}"[:500], flush=True)
                    out[n] = (0.0, 0.0, None)
                    continue
                out[n] = (t1 - t0, time.perf_counter() - t1, result)
    return out


def census_passes(spark, sf_dir: str, names: list[str], label: str, seconds: float,
                  tracer) -> dict[str, list[tuple]]:
    """Timed passes until ``seconds`` have gone by, at least one.
    Returns every execution of each query, in pass order."""
    runs: dict[str, list[tuple]] = {n: [] for n in names}
    t_end = time.perf_counter() + seconds
    while True:
        for n, r in census_pass(spark, sf_dir, names, label, tracer).items():
            runs[n].append(r)
        if time.perf_counter() >= t_end:
            return runs


def check_census(sf_dir: str, tables: tuple[str, ...], runs: dict[str, list[tuple]]) -> int:
    """Compare each collected result with its DuckDB twin
    (``__spark_entry__.oracle_sql``) by ``tools/check_correctness.canon``.
    Returns the number of executions that errored or differ."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import canon

    oracles, con, failed = entry.oracle_sql(), duckdb.connect(), 0
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for n, execs in runs.items():
        want = canon(con.execute(oracles[n]).df())
        for _, _, got in execs:
            ok = got is not None and sorted(got.columns) == sorted(want.columns) and canon(got).equals(want)
            if got is not None and not ok:
                print(f"check {n}: differs from its DuckDB twin", flush=True)
            failed += not ok
    con.close()
    return failed


def census_metrics(label: str, runs: dict[str, list[tuple]]) -> tuple[dict, dict]:
    """(end-to-end metrics, per-layer metrics). Items per second are
    the timed executions over their summed time; the latency
    percentiles are over the queries, each query's latency being the
    median of its executions. Per layer: plan and exec seconds per query,
    each the median over its executions, and ``<label>.total_s``, the sum
    of the per-query median latencies."""
    ok = {n: [p + x for p, x, r in execs if r is not None] for n, execs in runs.items()}
    lat = [median(v) * 1000.0 for v in ok.values() if v]
    n_ok = sum(map(len, ok.values()))
    e2e = {
        "items_per_s": n_ok / sum(map(sum, ok.values())) if n_ok else 0.0,
        "latency_p50_ms": percentile(lat, 50) if lat else 0.0,
        "latency_p99_ms": percentile(lat, 99) if lat else 0.0,
    }
    layer = {}
    for n, execs in runs.items():
        layer[f"{label}.{n}.plan_s"] = median([p for p, _, _ in execs])
        layer[f"{label}.{n}.exec_s"] = median([x for _, x, _ in execs])
    layer[f"{label}.total_s"] = sum(lat) / 1000.0
    return e2e, layer


def library_workload(work: str, seed: int, seconds: float, tracer, t_proc: float):
    """One warm-up pass, then timed passes: one cold pass is JIT and code
    generation racing the work, and spreads too widely to compare."""
    sf_dir = os.path.join(work, "data")
    g0 = time.perf_counter()
    with tracer.span("gen.tables"):
        orders, lineitem = gen.order_tables(seed, LIBRARY_ORDERS)
        tables = {
            "documents": gen.documents_table(seed, LIBRARY_DOCS),
            "embeddings": gen.embeddings_table(seed, LIBRARY_VECS),
            "orders": orders,
            "lineitem": lineitem,
        }
        gen.write_tables(sf_dir, tables)
    gen_s = time.perf_counter() - g0
    inputs = gen.fingerprint(gen.files_under(sf_dir))
    spark = start_session(tracer)
    try:
        with tracer.span("library.warmup"):
            census_pass(spark, sf_dir, LIBRARY, "library", tracer)
        # input making is the benchmark's own cost, not the engine's set-up
        setup_s = time.perf_counter() - t_proc - gen_s
        runs = census_passes(spark, sf_dir, LIBRARY, "library", seconds, tracer)
        gc_s, jit_s = jvm_times(spark)
    finally:
        stop_session(spark)
    with tracer.span("library.check"):
        failed = check_census(sf_dir, tuple(tables), runs)
    e2e, layer = census_metrics("library", runs)
    e2e["setup_s"] = setup_s
    layer.update({"jvm.gc_s": gc_s, "jvm.jit_s": jit_s})
    return e2e, layer, sum(map(len, runs.values())), failed, inputs


# ---------------------------------------------------------------- stream


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def drain(spark, cfg, bridge_dir: str, out: str, tracer) -> dict:
    """One catch-up: the daemon's own wiring over the whole backlog, with
    the ``availableNow`` trigger, until all three tables are written."""
    from dnstap2clickhouse_spark.__main__ import build_streams, read_events_source, start_queries
    from dnstap2clickhouse_spark.operators.join import avg_response_time_samples
    from dnstap2clickhouse_spark.streaming.pipeline import streaming_response_time_join

    samples = os.path.join(out, "_samples_clientQueryResponseTime")
    t0, w0 = time.perf_counter(), time.time()
    with tracer.span("stream.drain") as drain_sid:
        with tracer.span("stream.start_queries"):
            queries = start_queries(
                spark, cfg, build_streams(spark, cfg, bridge_dir), out, available_now=True
            )
            rt = streaming_response_time_join(read_events_source(spark, cfg, bridge_dir), cfg.aggregator)
            queries.append(
                rt.writeStream.outputMode("append")
                .queryName("clientQueryResponseTime")
                .option("checkpointLocation", os.path.join(out, "_chk_clientQueryResponseTime"))
                .foreachBatch(lambda df, _e: df.write.mode("append").parquet(samples))
                .trigger(availableNow=True)
                .start()
            )
        start_s = time.perf_counter() - t0
        done: dict[str, float] = {}
        pending = {q.name: q for q in queries}
        while pending:
            for name, q in list(pending.items()):
                if not q.isActive:
                    q.awaitTermination()  # re-raises a failed query's error
                    done[name] = time.perf_counter() - t0
                    del pending[name]
            time.sleep(0.005)
        with tracer.span("stream.avg_response_time_samples"):
            avg_response_time_samples(
                spark.read.parquet(samples), f"{cfg.aggregator.response_time_interval_s} seconds"
            ).write.parquet(os.path.join(out, "clientQueryResponseTime"))
        done["clientQueryResponseTime"] = time.perf_counter() - t0
    progress = {q.name: _progress(q) for q in queries}
    for name, entries in progress.items():
        qid = tracer.add(f"query.{name}", w0, w0 + done[name], drain_sid)
        for p in entries:
            start = _epoch(p["timestamp"])
            tracer.add(f"progress.{name}", start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                       qid, batchId=p["batchId"], durationMs=p["durationMs"])
    return {"total_s": max(done.values()), "done": done, "start_s": start_s, "progress": progress}


def check_stream(spark, cfg, bridge_dir: str, out: str) -> tuple[int, int]:
    """Each table equals its batch builder over the same rows, by
    multiset difference both ways (``exceptAll`` semantics). Returns
    (expected rows, differing rows). ``windowStart`` is not compared for
    the two daemon tables: their sink does not write it."""
    from dnstap2clickhouse_spark.__main__ import BRIDGE_SCHEMA, read_output_table
    from dnstap2clickhouse_spark.operators.columns import apply_column_config
    from dnstap2clickhouse_spark.operators.dns_pipeline import client_query_table, client_response_table
    from dnstap2clickhouse_spark.operators.join import avg_response_time_samples, match_response_times
    from dnstap2clickhouse_spark.sources.events import dns_pair_streams, dns_query_stream, dns_response_stream

    from pyspark.sql import functions as F

    agg = cfg.aggregator
    ev = spark.read.schema(BRIDGE_SCHEMA).parquet(bridge_dir)
    want = {
        "clientQuery": apply_column_config(
            client_query_table(spark, "", agg, queries=dns_query_stream(spark, "", events=ev)),
            cfg.sink.query_columns,
        ),
        "clientResponse": apply_column_config(
            client_response_table(spark, "", agg, responses=dns_response_stream(spark, "", events=ev)),
            cfg.sink.response_columns,
        ),
        "clientQueryResponseTime": avg_response_time_samples(
            match_response_times(*dns_pair_streams(spark, "", events=ev), agg.max_response_delay),
            f"{agg.response_time_interval_s} seconds",
        ),
    }
    attempted = failed = 0
    for table, exp in want.items():
        path = os.path.join(out, table)
        got = spark.read.parquet(path) if table == "clientQueryResponseTime" else read_output_table(spark, path)
        # one job: per distinct row, its multiplicity on each side
        both = got.withColumn("__got", F.lit(1)).withColumn("__want", F.lit(0)).unionByName(
            exp.select(*got.columns).withColumn("__got", F.lit(0)).withColumn("__want", F.lit(1))
        )
        n_exp, bad = (
            both.groupBy(*got.columns)
            .agg(F.sum("__got").alias("g"), F.sum("__want").alias("w"))
            .agg(F.sum("w"), F.sum(F.abs(F.col("g") - F.col("w"))))
            .first()
        )
        if bad:
            print(f"check {table}: {bad} rows differ of {n_exp}", flush=True)
        attempted, failed = attempted + n_exp, failed + bad
    return attempted, failed


def stream_workload(work: str, seed: int, seconds: float, tracer, t_proc: float):
    """Catch-up after downtime: a fresh session drains the whole backlog
    once, paying the code generation and JIT a restarted daemon pays;
    then the dashboard census runs on the warmed session. Items are the
    drain's rows; latencies are the dashboard queries'."""
    from dnstap2clickhouse_spark.config import EngineConfig

    bridge_dir, sf_dir = os.path.join(work, "bridge"), os.path.join(work, "data")
    g0 = time.perf_counter()
    with tracer.span("gen.backlog"):
        rows = gen.write_backlog(bridge_dir, seed, STREAM_BASE_EVENTS, STREAM_REPLICAS, CHUNK_ROWS)
        # the dashboard reads the backlog's base replica as an events table
        gen.write_tables(sf_dir, {"events": gen.events_table(seed, STREAM_BASE_EVENTS)})
    gen_s = time.perf_counter() - g0
    inputs = gen.fingerprint(gen.files_under(bridge_dir) + gen.files_under(sf_dir))
    cfg, out = EngineConfig(), os.path.join(work, "tables")
    spark = start_session(tracer)
    try:
        # input making is the benchmark's own cost, not the engine's set-up
        setup_s = time.perf_counter() - t_proc - gen_s
        d = drain(spark, cfg, bridge_dir, out, tracer)
        with tracer.span("stream.check"):
            attempted, failed = check_stream(spark, cfg, bridge_dir, out)
        failed += sum(
            op.get("numRowsDroppedByWatermark", 0)
            for entries in d["progress"].values() for p in entries for op in p.get("stateOperators", [])
        )
        runs = census_passes(spark, sf_dir, DASHBOARD, "dashboard", seconds, tracer)
        gc_s, jit_s = jvm_times(spark)
        layer = {"stream.total_s": d["total_s"], "stream.start_queries_s": d["start_s"],
                 "jvm.gc_s": gc_s, "jvm.jit_s": jit_s}
        if tracer.enabled:
            layer.update(stream_layers(spark, d, out))
    finally:
        stop_session(spark)
    with tracer.span("dashboard.check"):
        failed += check_census(sf_dir, ("events",), runs)
    census_e2e, census_layer = census_metrics("dashboard", runs)
    layer.update(census_layer)
    e2e = {
        "setup_s": setup_s,
        "items_per_s": rows / d["total_s"],
        "latency_p50_ms": census_e2e["latency_p50_ms"],
        "latency_p99_ms": census_e2e["latency_p99_ms"],
    }
    return e2e, layer, attempted + sum(map(len, runs.values())), failed, inputs


def stream_layers(spark, d: dict, out: str) -> dict:
    """Per-query sums over the drain's progress entries."""
    layer: dict[str, float] = {}
    for name in STREAM_TABLES:
        entries = d["progress"].get(name, [])
        for ph in PHASES:
            layer[f"stream.{name}.{ph}_ms"] = float(sum(p["durationMs"].get(ph, 0) for p in entries))
        ops = [op for p in entries[-1:] for op in p.get("stateOperators", [])]
        layer[f"stream.{name}.batches"] = len(entries)
        layer[f"stream.{name}.input_rows"] = sum(p.get("numInputRows", 0) for p in entries)
        path = os.path.join(out, name)
        layer[f"stream.{name}.output_rows"] = spark.read.parquet(path).count()
        layer[f"stream.{name}.state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops)
        layer[f"stream.{name}.state_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in ops)
        layer[f"stream.{name}.dropped_by_watermark"] = sum(
            op.get("numRowsDroppedByWatermark", 0) for p in entries for op in p.get("stateOperators", [])
        )
    return layer
