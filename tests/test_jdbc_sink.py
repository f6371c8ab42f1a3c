"""K2/K3 sink: a REAL JDBC round trip through ``jdbc_writer``.

The ClickHouse jar/server aren't in this environment, but embedded Derby
is on Spark's classpath, and the writer is driver-agnostic — so this
exercises the exact foreachBatch -> DataFrameWriter.jdbc path a
ClickHouse deployment takes (clickhouse.go:177-326), including the K1
column mapping with empty-name pruning, against a database we can read
back and assert on.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from dnstap2clickhouse_spark.sinks.writers import jdbc_writer
from dnstap2clickhouse_spark.streaming.pipeline import run_stream_to_memory

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def test_streaming_foreach_batch_jdbc_round_trip(spark):
    d = tempfile.mkdtemp(prefix="jdbc_sink_")
    src = os.path.join(d, "src")
    url = f"jdbc:derby:{d}/db;create=true"
    try:
        spark.createDataFrame(
            [(i, f"host{i}.example.com.", "A", 1) for i in range(40)],
            "id long, questionName string, questionType string, counter long",
        ).write.parquet(src)

        mapping = {
            "id": "id",
            "questionName": "qname",
            "questionType": "",  # K1 empty-name prune (clickhouse.go:124-137)
            "counter": "hits",
        }
        writer = jdbc_writer(url, "client_query", mapping, driver=DERBY_DRIVER)
        q = (
            spark.readStream.schema("id long, questionName string, questionType string, counter long")
            .parquet(src)
            .writeStream.outputMode("append")
            .foreachBatch(writer)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(d, "chk"))
            .start()
        )
        q.awaitTermination(timeout=120)

        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "client_query")
            .option("driver", DERBY_DRIVER)
            .load()
        )
        assert sorted(c.lower() for c in back.columns) == ["hits", "id", "qname"]
        rows = back.collect()
        assert len(rows) == 40
        assert sorted(r["qname"] for r in rows)[0] == "host0.example.com."
        assert all(r["hits"] == 1 for r in rows)
    finally:
        shutil.rmtree(d, ignore_errors=True)

def test_insert_statement_prunes_empty_names():
    """The synthesized INSERT matches the reference's column-name
    assembly: configured names in mapping order, empty names pruned
    (clickhouse.go:139-175)."""
    import pytest

    from dnstap2clickhouse_spark.sinks.writers import insert_statement

    mapping = {
        "queryTime": "queryTime",
        "identity": "",  # pruned
        "queryAddress": "queryAddress",
        "questionName": "questionName",
        "questionType": "",  # pruned
        "counter": "counter",
    }
    sql = insert_statement("clientQuery", mapping)
    assert sql == (
        "INSERT INTO clientQuery (queryTime, queryAddress, questionName, counter) "
        "VALUES (?, ?, ?, ?)"
    )
    with pytest.raises(ValueError, match="prunes every column"):
        insert_statement("t", {"a": "", "b": ""})
