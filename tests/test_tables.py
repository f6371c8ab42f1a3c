"""``sources/tables.materialize_scan``: one distributed evaluation written
to parquet and handed back as a scan.

- a scan returned by a previous call stays readable after a later call
  writes (unique per-run subpaths), and old runs are pruned to the
  ``keep`` newest;
- the parquet round trip keeps column names and data types;
- an empty result comes back as an empty scan with its schema, not as a
  failure on a part-file-less directory.
"""

from __future__ import annotations

import os

from dnstap2clickhouse_spark.sources.tables import materialize_scan


def test_materialize_scan_prior_scan_survives_and_prunes(spark):
    name = "scan_runs"
    local = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").rstrip("/")
    for pfx in ("file://", "file:"):
        if local.startswith(pfx):
            local = local[len(pfx):]
            break
    root = os.path.join(local, "materialized", name)

    first = materialize_scan(spark, spark.range(5).selectExpr("id AS a"), name)
    second = materialize_scan(spark, spark.range(7).selectExpr("id AS a"), name)
    # the second write must NOT invalidate the still-held first scan
    assert first.count() == 5
    assert second.count() == 7
    assert len(os.listdir(root)) == 2  # unique per-run subpaths
    materialize_scan(spark, spark.range(3).selectExpr("id AS a"), name)
    assert len(os.listdir(root)) == 2  # pruned to keep=2 (newest kept)
    assert second.count() == 7  # immediately-previous run still readable


def test_materialize_scan_preserves_schema(spark):
    df = spark.range(3).selectExpr(
        "CAST(id AS INT) AS i",
        "CAST(id AS DECIMAL(18,4)) AS d",
        "CAST(id AS DOUBLE) AS f",
        "CAST(id AS STRING) AS s",
    )
    out = materialize_scan(spark, df, "scan_schema")
    # names + dataTypes must round-trip exactly (nullability may widen —
    # parquet scans are nullable — which the oracle compare ignores)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]


def test_materialize_scan_empty_result(spark):
    """A CDC final state (or any materialized aggregate) can be EMPTY;
    the parquet round trip must preserve schema and return 0 rows."""
    df = spark.range(5).selectExpr("id AS a", "CAST(id AS STRING) AS s").filter("a < 0")
    out = materialize_scan(spark, df, "scan_empty")
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["a", "s"]
