"""Sinks: the K1-K4 surface re-expressed Spark-side.

Reference behavior (``/root/reference/src/clickhouse/clickhouse.go``):
INSERT statements synthesized from configured column names with
empty-name pruning (K1, 139-175), batched row-kind writers (K2, 177-299),
pooled connections (K3, 86-114), and a retry queue that *drops the newest
batch* past 16 queued retries (K4, 361-412) — i.e. at-most-once.

Spark replacement: ``foreachBatch`` gives micro-batch granularity; the
column mapping is a select/alias (operators.columns); task retries +
streaming checkpoints give at-least-once into an idempotent target —
strictly stronger than K4's drop semantics, a documented upgrade
(SURVEY.md section 2.8). The drop behavior is intentionally NOT ported.

The ClickHouse JDBC writer is gated: the driver jar is not in this
environment, so ``clickhouse_writer`` builds the writer function but its
use requires a reachable server + jar (documented, import-safe).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.columns import apply_column_config

def jdbc_writer(
    url: str,
    table: str,
    mapping: dict[str, str] | None = None,
    batchsize: int = 100_000,
    driver: str | None = None,
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch JDBC writer (K2/K3 equivalent), driver-agnostic.

    Connection options mirror the reference's client setup
    (clickhouse.go:94-104): batching replaces ``batch.Send``; JDBC
    ``batchsize`` is the micro-batch row granularity; ``num_partitions``
    caps concurrent connections (the JDBC writer opens one per partition
    — this is the reference's ``MaxOpenConns`` analogue); retries come
    from Spark task retry + checkpoint replay rather than the K4 queue.
    Exercised in tests against embedded Derby (on Spark's classpath), the
    same code path a ClickHouse deployment takes with its jar.
    """
    props = dict(properties or {})
    if driver:
        props["driver"] = driver

    def write(df: DataFrame, epoch_id: int) -> None:
        out = apply_column_config(df, mapping) if mapping else df
        w = (
            out.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", str(batchsize))
            .options(**props)
            .mode("append")
        )
        if num_partitions is not None:
            w = w.option("numPartitions", str(num_partitions))
        w.save()

    return write

def insert_statement(table: str, mapping: dict[str, str]) -> str:
    """K1 dialect surface: the INSERT the reference synthesizes from
    configured column names, with empty-name pruning
    (``appendColumnName``/``appendColumnValue`` skip empty targets —
    clickhouse.go:124-175). Mapping is source-column -> sink-column;
    an empty sink name prunes the column from the statement entirely.
    Useful for ``foreachBatch`` writers that target ClickHouse through a
    raw connection instead of the JDBC ``dbtable`` path."""
    cols = [v for v in mapping.values() if v]
    if not cols:
        raise ValueError("column mapping prunes every column")
    placeholders = ", ".join("?" for _ in cols)
    return f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders})"

def clickhouse_url(hosts: list[str], database: str) -> str:
    """Multi-host ClickHouse JDBC URL (the reference passes the full host
    list to clickhouse.Options.Addr for failover — clickhouse.go:94-104);
    the JDBC driver takes the same comma-separated list."""
    if not hosts:
        raise ValueError("at least one host required")
    return f"jdbc:clickhouse://{','.join(hosts)}/{database}"

def clickhouse_properties(
    lz4: bool = True,
    max_execution_time_s: int = 60,
    socket_timeout_ms: int = 30_000,
    dial_timeout_ms: int = 5_000,
    secure: bool = False,
    insecure_skip_verify: bool = False,
) -> dict[str, str]:
    """Connection properties mirroring the reference's client options
    (clickhouse.go:86-110): LZ4 compression, ``max_execution_time=60``,
    5 s dial timeout, and the Secure/InsecureSkipVerify TLS pair
    (clickhouse.go:107-110). Keys are the public clickhouse-jdbc property
    names; they ride the generic JDBC ``properties`` passthrough."""
    props = {
        "max_execution_time": str(max_execution_time_s),
        "socket_timeout": str(socket_timeout_ms),
        "connect_timeout": str(dial_timeout_ms),
    }
    if lz4:
        props["compress_algorithm"] = "lz4"
    if secure:
        props["ssl"] = "true"
        if insecure_skip_verify:
            props["sslmode"] = "NONE"  # skip chain verification
    return props

#: clickhouse.go:101 MaxOpenConns — one JDBC connection per write
#: partition, so capping partitions caps the pool
CLICKHOUSE_MAX_OPEN_CONNS = 2

def clickhouse_writer(
    url: str,
    table: str,
    mapping: dict[str, str] | None = None,
    batchsize: int = 100_000,
    properties: dict[str, str] | None = None,
    max_open_conns: int = CLICKHOUSE_MAX_OPEN_CONNS,
) -> Callable[[DataFrame, int], None]:
    """ClickHouse flavor of ``jdbc_writer`` (requires the ClickHouse JDBC
    jar on the classpath + a reachable server; clickhouse.go:86-114).
    Defaults the connection properties to :func:`clickhouse_properties`
    (LZ4 + max_execution_time + dial timeout) and connection count to the
    reference's pool size, both overridable per call."""
    props = clickhouse_properties()
    props.update(properties or {})
    return jdbc_writer(
        url,
        table,
        mapping,
        batchsize,
        driver="com.clickhouse.jdbc.ClickHouseDriver",
        properties=props,
        num_partitions=max_open_conns,
    )

def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Range-partitioned, within-file-sorted parquet layout — the write
    pattern that makes 100 TB outputs cheap to read back: globally
    range-partitioning on the sort key gives non-overlapping per-file key
    ranges, and the within-partition sort makes parquet row-group
    min/max statistics (zone maps) tight, so later range/point predicates
    prune whole files and row groups at planning time.

    ``repartitionByRange`` samples the key distribution (one pass) so
    files come out balanced even under skew — unlike hash partitioning,
    which scatters ranges, or a global ``orderBy``, which funnels the
    write through one task-chain for total order that readers don't need.
    """
    parted = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)

def write_partitioned_dataset(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Hive-partitioned dataset layout (``split=train/`` ...) — the
    final write of a curation pipeline, shaped so downstream trainers
    read only their split:

    - ``partitionBy`` makes the partition column a directory key, so a
      later ``read.parquet(path).filter(split = 'train')`` is PARTITION
      pruning (whole directories skipped at planning time, visible as
      ``PartitionFilters`` in the scan), not row filtering;
    - an optional within-partition sort keeps row-group zone maps tight
      for secondary predicates (same rationale as
      :func:`write_sorted_parquet`);
    - the pre-write repartition groups rows by partition value WITHOUT
      collapsing each value into one task: ``repartitionByRange`` over
      (partition_cols + sort_cols) — or over (partition_cols + a
      hash-spread column) when no sort is asked for — gives many tasks
      per partition value, so a dominant partition (train = 80% of the
      corpus) parallelizes instead of funneling through a single writer
      task. Range partitioning keeps each partition value's spread
      groups contiguous, so a task writes into one directory except at
      range boundaries (at most tasks + partition-values files total —
      no tasks × partitions small-files explosion; plain hash
      ``repartition`` would NOT give this, as one reducer can hold
      arbitrary (value, spread) combos).
    """
    # repartitionByRange runs a sampling job over the input to pick range
    # boundaries, then the shuffle re-evaluates it — persist so an
    # expensive upstream plan (the normal case: a full curation pipeline)
    # is computed once, not twice
    df = df.persist()
    try:
        if sort_cols:
            parted = df.repartitionByRange(
                *partition_cols, *sort_cols
            ).sortWithinPartitions(*partition_cols, *sort_cols)
        else:
            spread = df.sparkSession.sparkContext.defaultParallelism
            parted = df.withColumn(
                "__spread", F.abs(F.hash(*df.columns)) % spread
            ).repartitionByRange(*partition_cols, "__spread").drop("__spread")
        parted.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        df.unpersist()

def compact_dataset(
    spark,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
    n_files: int | None = None,
) -> int:
    """Small-files compaction — the maintenance pass every long-running
    ingest needs (micro-batch sinks and bridge chunk writers emit one
    file per trigger; a day of 20 s triggers is 4320 tiny files whose
    open/footer overhead dominates scans).

    Rewrites ``src_dir`` into ``n_files`` parquet files (derived from the
    source's on-disk bytes / ``target_file_mb`` when not given;
    explicit ``n_files`` covers non-local filesystems). With
    ``sort_cols`` the rewrite is range-partitioned + within-file sorted
    (the :func:`write_sorted_parquet` layout, so compaction doubles as a
    zone-map optimization pass); without, a plain repartition. Returns
    the file count written.

    Scale shape: one shuffle, output size bounded by target file size —
    the standard bin-packing rewrite; idempotent, so it can run as a
    periodic job over live append dirs (write to a fresh dst, swap).
    """
    import math
    import os

    df = spark.read.parquet(src_dir)
    if n_files is None:
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for root, _, names in os.walk(src_dir)
            for f in names
            if f.endswith(".parquet")
        ]
        if not sizes:
            # os.walk found nothing: non-local path (s3a://, hdfs://) or
            # empty dir — silently defaulting to 1 file would funnel a
            # multi-TB dataset through one task
            raise ValueError(
                f"cannot size {src_dir!r} locally (no .parquet files found); "
                "pass n_files explicitly for non-local filesystems"
            )
        n_files = max(1, math.ceil(sum(sizes) / (target_file_mb * 1024 * 1024)))
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst_dir)
    return n_files
