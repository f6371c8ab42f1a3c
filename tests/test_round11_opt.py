"""Round-11 optimization regression guards.

Pins the r11 optimization-round changes:

1. ``dedup_containment_prefix``'s exact-set-grouped rewrite (group docs
   by sorted shingle array, run the prefix/positional-filter machinery
   per distinct set, expand back) is output-identical to the pre-r11
   per-doc form — checked against a literal reimplementation of the old
   plan, including ordering.
2. The new candidate join carries the PPJoin positional filter and the
   grouped form's plan groups by the sorted shingle array (no hash key
   — exact set identity).
"""

from __future__ import annotations

from dnstap2clickhouse_spark.functions import dedup as fd

SF = "/root/testdata/sf0.001"


def _old_containment_spark_sql() -> str:
    """The pre-r11 Spark form, pinned literally (r10 ground truth): the
    per-doc prefix-filter join with the count-window ``n`` and no
    positional filter."""
    arrays = fd._shingle_arrays("spark")
    tau = fd.CONT_TAU_E6
    return f"""
WITH sh AS ({arrays}),
srows AS (SELECT doc_id, explode(sh) AS s FROM sh),
df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM srows GROUP BY s),
ranked AS (
  SELECT r.doc_id, r.s,
         row_number() OVER (PARTITION BY r.doc_id ORDER BY d.df, r.s) AS rk,
         count(*) OVER (PARTITION BY r.doc_id) AS n
  FROM srows r JOIN df d ON r.s = d.s),
prefix AS (
  SELECT doc_id, s, n FROM ranked
  WHERE rk <= (n * {1_000_000 - tau}) div 1000000 + 1),
cand AS (
  SELECT DISTINCT p.doc_id AS doc_a, r.doc_id AS doc_b
  FROM prefix p JOIN ranked r
    ON p.s = r.s AND p.doc_id <> r.doc_id
   AND r.n * 1000000 >= p.n * {tau}),
scored AS (
  SELECT c.doc_a, c.doc_b,
         (CAST(size(array_intersect(a.sh, b.sh)) AS BIGINT) * 1000000) div size(a.sh) AS cont_e6
  FROM cand c
  JOIN sh a ON c.doc_a = a.doc_id
  JOIN sh b ON c.doc_b = b.doc_id)
SELECT doc_a, doc_b, cont_e6 FROM scored
WHERE cont_e6 >= {tau}
ORDER BY doc_a, doc_b
"""


def test_containment_grouped_rewrite_output_identical(spark):
    """The set-grouped + positional-filtered form must reproduce the
    old per-doc form exactly (values AND ordering)."""
    fd._register(spark, SF)
    new = spark.sql(fd.containment_pairs_sql("spark")).collect()
    old = spark.sql(_old_containment_spark_sql()).collect()
    assert new == old
    assert len(new) > 0  # a 0-row pair relation would be a red flag


def test_containment_plan_groups_by_exact_set_and_position_filters(spark):
    fd._register(spark, SF)
    sql = fd.containment_pairs_sql("spark")
    # exact set identity: the grouping key is the sorted shingle array
    assert "sort_array(sh)" in sql
    # the PPJoin positional filter rides the candidate join
    assert "least(p.n - p.rk, r.n - r.rk)" in sql
    plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
    # the window that assigns group representatives partitions by the
    # array key itself, never by a lossy hash of it
    assert "sort_array" in plan


def test_containment_oracle_sql_unchanged_r10_form():
    """The DuckDB referee must stay independent of the Spark rewrite:
    the oracle keeps the per-doc count-window form."""
    sql = fd.containment_pairs_sql("duckdb")
    assert "count(*) OVER (PARTITION BY r.doc_id)" in sql
    assert "sort_array" not in sql
    assert "least(" not in sql


# The r11 IVF assign-fold experiment (replace max_by(struct) with a
# per-row fold over collected centroids) was committed in 4ab9ddb and
# REVERTED after the final bench measured it +30% at sf0.1 (stage-count
# overhead of the extra centroid-collection aggregate dominates small
# corpora) while flat at sf1/sf3 — see OPTIMIZATION_r11.md "Measured and
# REJECTED". The max_by pins in test_round6_argmin_agg.py are restored.


# --------------------------------------------- tz-gate aliases (r11 ADVICE)


def test_ntz_cast_fast_path_covers_utc_aliases(spark, tmp_path):
    """Equivalent zero-offset zone ids must take the cast fast path (and
    stay exact); a non-zero offset must NOT (r10 ADVICE item 3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dnstap2clickhouse_spark.sources import tables as t

    table = pa.table(
        {
            "event_id": pa.array([0], pa.int64()),
            "ts": pa.array([1751371200000000], pa.timestamp("us")),  # NTZ
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    orig = t._ensure_session_confs
    try:
        t._ensure_session_confs = lambda s: None  # keep our zone pin
        for tz, fast in (("Etc/UTC", True), ("GMT", True), ("+00:00", True),
                         ("UCT", True), ("Etc/GMT0", True), ("Zulu", True),
                         ("+05:30", False), ("America/New_York", False)):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = t.load_table(spark, str(tmp_path), "events")
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert ("make_timestamp" not in plan) == fast, tz
            got = df.selectExpr("unix_micros(ts) AS us").collect()[0].us
            assert got == 1751371200000000, tz  # exact under every zone
    finally:
        t._ensure_session_confs = orig
        spark.conf.set("spark.sql.session.timeZone", tz0)


# ------------------------------------ SHJ skew-split proof (VERDICT item 4)


def test_aqe_skew_split_applies_to_hinted_shuffle_hash(spark, tmp_path):
    """AQE skew-join splitting must engage on the hinted SHUFFLE_HASH
    banded self-join (including with both sides reading the one
    ReusedExchange) when a (band, sig) bucket is hot. The skew
    thresholds are runtime confs, lowered here to test scale —
    production keeps the 256MB/5x defaults, which a test corpus cannot
    reach; what this pins is that the MECHANISM applies to the hinted
    SHJ shape at all in this Spark version."""
    from pyspark.sql import functions as F

    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        # the session default is one shuffle partition per core; at 4 the
        # hot keys spread evenly (largest join partition 1.18x the median,
        # under the 1.2 factor), so there is no skewed partition to split
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in skew_confs}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    hot_text = docs.filter("doc_id = 1").select("text").collect()[0][0]
    hot = spark.range(300).select(
        (F.col("id") + mx + 1).alias("doc_id"),
        F.lit("hotsrc").alias("source"),
        F.lit(hot_text).alias("text"),
    )
    dtypes = dict(docs.dtypes)
    for c in docs.columns:
        if c not in ("doc_id", "source", "text"):
            hot = hot.withColumn(c, F.lit(None).cast(dtypes[c]))
    skew_dir = str(tmp_path / "skew")
    docs.unionByName(hot.select(*docs.columns)).repartition(4).write.parquet(
        skew_dir + "/documents.parquet"
    )
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        fd._register(spark, skew_dir)
        df = spark.sql(fd._lsh_pairs_sql("spark"))
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "ShuffledHashJoin(skew=true)" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
