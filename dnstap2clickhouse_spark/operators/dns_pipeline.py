"""The three output tables of the reference pipeline, batch flavor.

Composes sources + operators into the ``clientQuery`` / ``clientResponse``
/ ``clientQueryResponseTime`` tables (DDL: quickstart.md:59-93). Each
builder has a ``*_sql`` twin producing the DuckDB-oracle equivalent from
the same shared SQL fragments — the correctness gate runs them
side-by-side.

The builders are pure DataFrame -> DataFrame and streaming-safe, so the
daemon (``__main__.build_streams``) and ``streaming.pipeline`` run them
unchanged over a watermarked stream passed as ``queries=`` /
``responses=``: a stream query is the batch query over a prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import AggregatorConfig
from ..sources.events import (
    QUERY_STREAM_SQL,
    RESPONSE_STREAM_SQL,
    PAIR_QUERY_SQL,
    PAIR_RESPONSE_SQL,
    dns_query_stream,
    dns_response_stream,
    dns_pair_streams,
)
from .grouping_sets import expand_grouping_sets, grouping_sets_sql_union
from .windows import window_dedup_count, window_dedup_count_sql
from .join import (
    match_response_times,
    match_response_times_sql,
    avg_response_time_samples,
    avg_response_time_samples_sql,
)
from .sampling import sample_by_dns_id, sample_by_dns_id_sql

QUERY_KEYS = ["identity", "queryAddress", "questionName", "questionType"]
RESPONSE_KEYS = ["identity", "responseStatus", "queryAddress", "questionName", "questionType"]

def client_query_table(
    spark: SparkSession,
    sf_dir: str,
    cfg: AggregatorConfig | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """clientQuery: grouping-set expansion + tumbling dedup-count (A1-A6)."""
    cfg = cfg or AggregatorConfig()
    q = queries if queries is not None else dns_query_stream(spark, sf_dir)
    q = q.select("queryTime", *QUERY_KEYS, "counter")
    if not cfg.aggregate:  # A8 pass-through (aggregator.go:556-565)
        return q
    expanded = expand_grouping_sets(q, cfg)
    return window_dedup_count(expanded, "queryTime", QUERY_KEYS, f"{cfg.write_interval_s} seconds")

def client_query_table_sql(
    cfg: AggregatorConfig | None = None, stream_sql: str | None = None
) -> str:
    cfg = cfg or AggregatorConfig()
    src = stream_sql or QUERY_STREAM_SQL
    inner = f"SELECT queryTime, {', '.join(QUERY_KEYS)}, counter FROM ({src})"
    if not cfg.aggregate:
        return inner
    expanded = grouping_sets_sql_union(inner, cfg)
    return window_dedup_count_sql(expanded, "queryTime", QUERY_KEYS, cfg.write_interval_s)

def client_response_table(
    spark: SparkSession,
    sf_dir: str,
    cfg: AggregatorConfig | None = None,
    responses: DataFrame | None = None,
) -> DataFrame:
    """clientResponse: F5 non-OK filter + grouping sets + dedup-count (A5/A7).

    The success filter runs *after* the response-time tap in the reference
    (aggregator.go:568-576): only non-NOERROR rows reach this table, but
    ALL responses feed the J1 match — mirrored here by taking the filter
    inside this builder while ``response_time_table`` reads the full stream.
    """
    cfg = cfg or AggregatorConfig()
    r = responses if responses is not None else dns_response_stream(spark, sf_dir)
    r = r.filter(F.col("responseStatus") != "NOERROR")  # F5
    r = r.select("responseTime", *RESPONSE_KEYS, "counter")
    if not cfg.aggregate:
        return r
    expanded = expand_grouping_sets(r, cfg)
    return window_dedup_count(
        expanded, "responseTime", RESPONSE_KEYS, f"{cfg.write_interval_s} seconds"
    )

def client_response_table_sql(cfg: AggregatorConfig | None = None) -> str:
    cfg = cfg or AggregatorConfig()
    inner = (
        f"SELECT responseTime, {', '.join(RESPONSE_KEYS)}, counter "
        f"FROM ({RESPONSE_STREAM_SQL}) WHERE responseStatus <> 'NOERROR'"
    )
    if not cfg.aggregate:
        return inner
    expanded = grouping_sets_sql_union(inner, cfg)
    return window_dedup_count_sql(expanded, "responseTime", RESPONSE_KEYS, cfg.write_interval_s)

def response_time_table(
    spark: SparkSession,
    sf_dir: str,
    cfg: AggregatorConfig | None = None,
) -> DataFrame:
    """clientQueryResponseTime: sampling tap -> J1 match -> A9 int-div avg."""
    cfg = cfg or AggregatorConfig()
    q, r = dns_pair_streams(spark, sf_dir)
    q = sample_by_dns_id(q, cfg.sample_mask, cfg.sample_match)
    r = sample_by_dns_id(r, cfg.sample_mask, cfg.sample_match)
    matched = match_response_times(q, r, cfg.max_response_delay)
    return avg_response_time_samples(matched, f"{cfg.response_time_interval_s} seconds")

def response_time_table_sql(cfg: AggregatorConfig | None = None) -> str:
    cfg = cfg or AggregatorConfig()
    q = sample_by_dns_id_sql(PAIR_QUERY_SQL, cfg.sample_mask, cfg.sample_match)
    r = sample_by_dns_id_sql(PAIR_RESPONSE_SQL, cfg.sample_mask, cfg.sample_match)
    matched = match_response_times_sql(q, r, f"INTERVAL '{cfg.max_response_delay}'")
    return avg_response_time_samples_sql(matched, cfg.response_time_interval_s)
