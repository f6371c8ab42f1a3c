"""The six reference invariants (FIXTURES.md section 3 / SURVEY.md
section 5) as property tests over the synthetic corpus."""

from __future__ import annotations

import pyspark.sql.functions as F

from dnstap2clickhouse_spark.config import AggregatorConfig, GROUPBY_TAG
from dnstap2clickhouse_spark.operators import dns_pipeline as dp
from dnstap2clickhouse_spark.operators import prep
from dnstap2clickhouse_spark.operators.join import match_response_times, avg_response_time_samples
from dnstap2clickhouse_spark.sources.events import dns_pair_streams, dns_response_stream

SF = "/root/testdata/sf0.001"

def test_grouping_set_consistency(spark):
    """sum(counter) of questionName='__ANY__' rows == sum over ungrouped
    rows (every event increments every enabled set once,
    aggregator.go:246-279)."""
    cq = dp.client_query_table(spark, SF)
    rolled = cq.filter(F.col("questionName") == GROUPBY_TAG).agg(F.sum("counter")).first()[0]
    ungrouped = (
        cq.filter((F.col("questionName") != GROUPBY_TAG) & (F.col("queryAddress") != GROUPBY_TAG))
        .agg(F.sum("counter"))
        .first()[0]
    )
    assert rolled == ungrouped

def test_no_noerror_in_client_response(spark):
    """clientResponse contains only non-NOERROR rows (F5,
    dnstap.go:345-349, aggregator.go:574-576)."""
    cr = dp.client_response_table(spark, SF)
    assert cr.filter(F.col("responseStatus") == "NOERROR").count() == 0

def test_delta_non_negative(spark):
    """All emitted deltas >= 0 (negative-delta guard is structural in the
    interval join, aggregator.go:382-388)."""
    q, r = dns_pair_streams(spark, SF)
    m = match_response_times(q, r)
    assert m.filter(F.col("delta_us") < 0).count() == 0

def test_explode_multiplicity(spark):
    """N questions in one message => N rows with counter 1 each
    (dnstap.go:289-307)."""
    frames = prep.raw_frames(spark, SF)
    kept = frames.filter(
        (F.col("frameType") == "MESSAGE")
        & (F.col("messageType") == "CLIENT_QUERY")
        & F.col("hasPayload")
    )
    expected = kept.select(F.size("questionNames").alias("n")).agg(F.sum("n")).first()[0]
    decoded = prep.decode_frames(frames, "CLIENT_QUERY")
    assert decoded.count() == expected
    assert decoded.filter(F.col("counter") != 1).count() == 0

def test_avg_is_integer_division(spark):
    """responseTimeDelta == sum(delta) DIV count (uint64 division,
    aggregator.go:496) — never the float average."""
    q, r = dns_pair_streams(spark, SF)
    m = match_response_times(q, r)
    agg = avg_response_time_samples(m)
    recomputed = (
        m.groupBy(F.window("responseTime", "10 seconds").alias("w"), "identity")
        .agg(F.sum("delta_us").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("windowStart"),
            "identity",
            (F.col("s") - F.col("s") % F.col("n")).alias("floor_num"),
            "n",
        )
    )
    joined = agg.join(recomputed, ["windowStart", "identity"])
    bad = joined.filter(F.col("responseTimeDelta") * F.col("n") != F.col("floor_num")).count()
    assert bad == 0

def test_passthrough_one_row_per_event(spark):
    """Aggregate=false emits exactly one row per (filtered) input event,
    all counters 1 (aggregator.go:556-565)."""
    cfg = AggregatorConfig(aggregate=False)
    out = dp.client_response_table(spark, SF, cfg)
    src = dns_response_stream(spark, SF).filter(F.col("responseStatus") != "NOERROR")
    assert out.count() == src.count()
    assert out.filter(F.col("counter") != 1).count() == 0
