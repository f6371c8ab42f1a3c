"""Bucketed co-located join: the pre-shuffled storage layout.

At 100 TB the fact-fact join (orders x lineitem) shuffles both sides on
every query. Bucketing pays that shuffle ONCE at write time: both tables
are written ``bucketBy(N, key) sortBy(key)``, so a later join on the key
reads bucket i of each side into the same task — a sort-merge join with
**zero Exchange** in the plan. This module demonstrates the layout and is
asserted shuffle-free by ``tests/test_skew.py``.

The bucket count is the knob: it fixes join parallelism for every
consumer, so it is chosen from the target cluster (e.g. 2-4x total
cores), not the data size. AQE cannot coalesce bucketed scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, materialize_scan

def write_bucketed(
    spark: SparkSession, sf_dir: str, buckets: int = 8, suffix: str = "_b"
) -> tuple[str, str]:
    """Write orders+lineitem bucketed on the join key; returns table names."""
    ot, lt = f"orders{suffix}", f"lineitem{suffix}"
    load_table(spark, sf_dir, "orders").write.bucketBy(buckets, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").format("parquet").saveAsTable(ot)
    load_table(spark, sf_dir, "lineitem").write.bucketBy(buckets, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").format("parquet").saveAsTable(lt)
    return ot, lt

def bucketed_order_revenue(spark: SparkSession, orders_table: str, lineitem_table: str) -> DataFrame:
    """Revenue per order priority via the co-located join — no shuffle on
    either fact side (scans are bucket-aligned)."""
    o = spark.table(orders_table)
    l = spark.table(lineitem_table)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


_DISC_E4 = "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract entry for the bucketed co-located fact-fact join: both
    fact tables are written ``bucketBy(8, key) sortBy(key)`` (external
    tables in a temp dir so repeated driver runs overwrite cleanly),
    then revenue per order priority runs as a sort-merge join whose
    scans are bucket-aligned — ZERO Exchange on either fact side.
    ``tests/test_skew.py::test_bucketed_join_is_shuffle_free`` checks
    that plan shape on ``bucketed_order_revenue`` (the same
    orders×lineitem join over ``write_bucketed`` tables, 4 buckets), not
    on this entry; the oracle checks this entry's values. At 100 TB
    this is the layout decision: the orders×lineitem shuffle is paid
    once at write time, and every downstream join on the key reads
    co-located buckets.

    The result is evaluated eagerly and the catalog entries + files are
    dropped before returning (the contract query is self-cleaning);
    revenue is the exact-integer e4 idiom, so the hash is
    order-independent. Oracle: the identical join/aggregate over the
    plain parquet views — bucketing changes the PLAN, never the answer.
    """
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="bucketed_")
    ot, lt = "orders_bkt_entry", "lineitem_bkt_entry"
    try:
        for name, table, key in (
            (ot, "orders", "o_orderkey"),
            (lt, "lineitem", "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            load_table(spark, sf_dir, table).write.bucketBy(8, key).sortBy(
                key
            ).option("path", f"{d}/{name}").mode("overwrite").format(
                "parquet"
            ).saveAsTable(name)
        out = (
            spark.table(ot)
            .join(
                spark.table(lt),
                spark.table(ot).o_orderkey == spark.table(lt).l_orderkey,
            )
            .groupBy("o_orderpriority")
            .agg(
                F.sum(F.expr(_DISC_E4)).alias("revenue_e4"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )
        # evaluate before the finally-block drops the bucketed tables;
        # distributed write + scan, not a driver collect (r5 verdict 7).
        # The single orderBy sits AFTER the scan — sorting before the
        # parquet write would be discarded by the re-read anyway.
        return materialize_scan(spark, out, "bucketed_join").orderBy(
            "o_orderpriority"
        )
    finally:
        for name in (ot, lt):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(d, ignore_errors=True)


def bucketed_join_sql() -> str:
    return f"""
SELECT o_orderpriority,
       CAST(sum({_DISC_E4}) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
