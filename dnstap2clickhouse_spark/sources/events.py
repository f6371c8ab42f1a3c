"""Canonical ``events`` -> DNS-stream mapping (FIXTURES.md section 2).

The test corpus has no real dnstap frames; the ``events`` table stands in
for the decoded stream. This module is the single source of truth for the
deterministic mapping, rendered in BOTH dialects from one expression list:

- DataFrame functions (the engine's input prep — what the decode stage of
  the reference produces: ``/root/reference/src/dnstap/dnstap.go:289-307``
  for queries, 352-372 for responses);
- DuckDB SQL constants spliced verbatim into the oracle queries.

Two key derivations exist:

1. **Stream mapping** — identity/address from ``user_id``, port/name/id
   from ``event_id``; even ``event_id`` rows are queries, odd are
   responses. Used by the aggregation pipeline.
2. **Pair mapping** — join-key fields derived from ``event_id // 2`` so
   query ``2k`` and response ``2k+1`` share the join key
   ``{identity, queryAddress, queryPort, id}`` (aggregator.go:179-184).
   Used by the J1 stream-stream match: under the plain stream mapping an
   even and an odd ``event_id`` can never produce equal ids, so no pair
   would ever match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .tables import load_table

#: schema of an events row as Spark reads it: the ``events`` table after
#: ``load_table`` and events-shaped chunk files (a replayed backlog). File
#: streams must not infer their schema, so every events stream pins this
#: one; the daemon's ``__main__.CHUNK_SCHEMA`` extends it.
BRIDGE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# questionType: fixed 5-way mapping over event_type (alphabetical)
_QTYPE_CASE = (
    "CASE event_type WHEN 'click' THEN 'A' WHEN 'error' THEN 'AAAA' "
    "WHEN 'purchase' THEN 'MX' WHEN 'signup' THEN 'NS' ELSE 'TXT' END"
)
# responseStatus: rcode-name skew — mostly NOERROR so filter F5
# (dnstap.go:345-349) actually bites. Residues are ODD because responses
# live on odd event_ids (even residues would never occur).
_RSTATUS_CASE = (
    "CASE WHEN event_id % 20 = 1 THEN 'NXDOMAIN' "
    "WHEN event_id % 20 = 3 THEN 'SERVFAIL' "
    "WHEN event_id % 20 = 5 THEN 'REFUSED' ELSE 'NOERROR' END"
)

def _exprs(dialect: str, time_col: str, with_status: bool, pair_keys: bool) -> list[str]:
    """The mapping as a list of `expr AS name` strings, per dialect.

    dialect: 'spark' | 'duckdb' (differ only in STRING/VARCHAR and div///).
    pair_keys: derive identity/address/port/id from event_id//2 instead of
    the per-row stream mapping.
    """
    s = "STRING" if dialect == "spark" else "VARCHAR"
    idiv = "div" if dialect == "spark" else "//"
    k = f"(event_id {idiv} 2)" if pair_keys else None
    ident_k = k or "user_id"
    addr_k = k or "user_id"
    port_k = k or "event_id"
    id_k = k or "event_id"
    out = [
        f"ts AS {time_col}",
        f"'ns' || CAST({ident_k} % 3 AS {s}) AS identity",
        f"'10.0.' || CAST({addr_k} % 32 AS {s}) || '.' || CAST({addr_k} % 251 AS {s}) AS queryAddress",
        f"CAST(1024 + {port_k} % 60000 AS BIGINT) AS queryPort",
    ]
    if not pair_keys:
        out += [
            f"'host' || CAST(event_id % 1000 AS {s}) || '.example.com.' AS questionName",
            f"{_QTYPE_CASE} AS questionType",
        ]
    out.append(f"CAST({id_k} % 65536 AS BIGINT) AS id")
    if with_status:
        out.append(f"{_RSTATUS_CASE} AS responseStatus")
        out.append(f"({_RSTATUS_CASE}) = 'NOERROR' AS isSuccess")
    out.append("CAST(1 AS BIGINT) AS counter")
    return out

def _sql(time_col: str, with_status: bool, pair_keys: bool, parity: int) -> str:
    sel = ",\n       ".join(_exprs("duckdb", time_col, with_status, pair_keys))
    return f"SELECT {sel}\nFROM events\nWHERE event_id % 2 = {parity}"

#: DuckDB-dialect bodies for oracle CTEs
QUERY_STREAM_SQL = _sql("queryTime", False, False, 0)
RESPONSE_STREAM_SQL = _sql("responseTime", True, False, 1)
PAIR_QUERY_SQL = _sql("queryTime", False, True, 0)
PAIR_RESPONSE_SQL = _sql("responseTime", True, True, 1)

# ------------------------------------------------------------ Spark flavors

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")

def _project(ev: DataFrame, time_col: str, with_status: bool, pair_keys: bool, parity: int) -> DataFrame:
    return ev.filter(f"event_id % 2 = {parity}").selectExpr(
        *_exprs("spark", time_col, with_status, pair_keys)
    )

def dns_query_stream(spark: SparkSession, sf_dir: str, events: DataFrame | None = None) -> DataFrame:
    """CLIENT_QUERY stream — schema of ``aggregator.Query`` (aggregator.go:55-64)."""
    ev = events if events is not None else _events(spark, sf_dir)
    return _project(ev, "queryTime", False, False, 0)

def dns_response_stream(spark: SparkSession, sf_dir: str, events: DataFrame | None = None) -> DataFrame:
    """CLIENT_RESPONSE stream — schema of ``aggregator.Response`` (aggregator.go:75-86)."""
    ev = events if events is not None else _events(spark, sf_dir)
    return _project(ev, "responseTime", True, False, 1)

def dns_pair_streams(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Pair-keyed (query_df, response_df) for the J1 match (aggregator.go:352-409)."""
    ev = events if events is not None else _events(spark, sf_dir)
    q = _project(ev, "queryTime", False, True, 0)
    r = _project(ev, "responseTime", True, True, 1)
    return q, r
