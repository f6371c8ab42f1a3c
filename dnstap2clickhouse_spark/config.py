"""Engine configuration.

Mirrors the reference's config surface (``/root/reference/src/config/toml.go:43-81``
defaults, cross-section propagation at toml.go:181-191) as plain dataclasses.
The reference patches TOML with CLI args via reflection; here the same knobs
are constructor arguments, and the derived default
``response_time_interval = write_interval / 2`` (toml.go:189-191) is applied
in ``__post_init__``.

Column-name config (``clickhouse.go:43-66``): mapping logical -> physical
column name, where an empty name prunes the column from the sink
(clickhouse.go:124-137). See ``operators.columns.apply_column_config``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Sentinel for a rolled-up grouping dimension (aggregator.go:32).
GROUPBY_TAG = "__ANY__"

# Reference defaults (toml.go:43-81)
DEFAULT_WRITE_INTERVAL_S = 20
DEFAULT_QUERY_COLUMNS = {
    "queryTime": "queryTime",
    "identity": "identity",
    "queryAddress": "queryAddress",
    "questionName": "questionName",
    "questionType": "questionType",
    "counter": "counter",
}
DEFAULT_RESPONSE_COLUMNS = {
    "responseTime": "responseTime",
    "identity": "identity",
    "responseStatus": "responseStatus",
    "queryAddress": "queryAddress",
    "questionName": "questionName",
    "questionType": "questionType",
    "counter": "counter",
}
DEFAULT_RESPONSE_TIME_COLUMNS = {
    "responseTime": "responseTime",
    "identity": "identity",
    "responseTimeDelta": "responseTimeDelta",
}

@dataclass
class AggregatorConfig:
    """Aggregation knobs (aggregator.Config, aggregator.go:42-52)."""

    aggregate: bool = True                  # false => pass-through (A8)
    write_ungrouped: bool = True            # grouping set () — aggregator.go:246-253
    groupby_question: bool = True           # set {question} — aggregator.go:254-266
    groupby_query_address: bool = True      # set {address} — aggregator.go:267-279
    client_queries: bool = True             # F3 gate, dnstap.go:253-255
    non_ok_client_responses: bool = True    # F3/F5 gates
    client_response_time_samples: bool = True
    write_interval_s: int = DEFAULT_WRITE_INTERVAL_S
    response_time_interval_s: int | None = None  # derived: write_interval/2

    # Sampling (section 2.7): the reference's adaptive bitmask controller
    # (aggregator.go:455-483) is deliberately replaced by a static mask —
    # Spark bounds join state by watermark, removing the memory pressure the
    # controller manages. mask=0 passes everything (aggregator.go:332-337).
    sample_mask: int = 0
    sample_match: int = 0

    # J1 interval-join bound: how long after a query a response may arrive.
    # Replaces the reference's TTL state eviction (aggregator.go:510-515);
    # in streaming this becomes the watermark delay.
    max_response_delay: str = "10 minutes"

    def __post_init__(self) -> None:
        if self.response_time_interval_s is None:
            # toml.go:189-191
            self.response_time_interval_s = max(1, self.write_interval_s // 2)

@dataclass
class SinkConfig:
    """Sink column mapping (clickhouse.Config, clickhouse.go:43-66).

    Keys are logical column names; values are physical names in the output.
    An empty-string value prunes the column (clickhouse.go:124-137).
    """

    query_columns: dict[str, str] = field(default_factory=lambda: dict(DEFAULT_QUERY_COLUMNS))
    response_columns: dict[str, str] = field(default_factory=lambda: dict(DEFAULT_RESPONSE_COLUMNS))
    response_time_columns: dict[str, str] = field(
        default_factory=lambda: dict(DEFAULT_RESPONSE_TIME_COLUMNS)
    )

@dataclass
class EngineConfig:
    aggregator: AggregatorConfig = field(default_factory=AggregatorConfig)
    sink: SinkConfig = field(default_factory=SinkConfig)
