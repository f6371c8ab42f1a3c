"""TOML config loading — the reference's bootstrap surface.

Mirrors ``/root/reference/src/config/toml.go``:

- defaults struct (toml.go:43-81) -> dataclass defaults in ``config.py``;
- TOML file overlay (toml.go:174-178) -> ``tomllib`` (stdlib) + dict merge;
- reflection-based CLI-arg patching (``patchStructFields``,
  toml.go:127-163) -> ``overrides`` dicts patched by field name;
- cross-section propagation (the Dnstap gating flags are copied into the
  Aggregator/ClickHouse configs so each stage can gate itself,
  toml.go:181-187) -> explicit propagation below;
- derived default ``ResponseTimeAggregationInterval = WriteInterval/2``
  (toml.go:189-191) -> ``AggregatorConfig.__post_init__``.

TOML section/key names follow the reference's config file
(``build/dnstap2clickhouse.conf``): [aggregator], [clickhouse], [dnstap].
"""

from __future__ import annotations

import tomllib
from dataclasses import fields
from typing import Any

from .config import AggregatorConfig, EngineConfig, SinkConfig

#: TOML key -> AggregatorConfig field (reference names, toml.go:43-61)
_AGG_KEYS = {
    "aggregate": "aggregate",
    "write_ungrouped": "write_ungrouped",
    "groupby_question": "groupby_question",
    "groupby_query_address": "groupby_query_address",
    "client_queries": "client_queries",
    "non_ok_client_responses": "non_ok_client_responses",
    "client_response_time_samples": "client_response_time_samples",
    "write_interval": "write_interval_s",
    "response_time_aggregation_interval": "response_time_interval_s",
    "sample_mask": "sample_mask",
    "sample_match": "sample_match",
    "max_response_delay": "max_response_delay",
}

_SINK_KEYS = {
    "query_columns": "query_columns",
    "response_columns": "response_columns",
    "response_time_columns": "response_time_columns",
}

def _patch(obj: Any, mapping: dict[str, str], values: dict[str, Any]) -> None:
    """patchStructFields analogue: set known fields, ignore unknown keys
    (the reference warns and continues — toml.go:150-156)."""
    valid = {f.name for f in fields(obj)}
    for key, val in values.items():
        field = mapping.get(key, key)
        if field in valid:
            setattr(obj, field, val)

def load_config(
    path: str | None = None,
    cli_overrides: dict[str, Any] | None = None,
) -> EngineConfig:
    """defaults -> TOML overlay -> CLI patch -> propagation -> derived."""
    agg = AggregatorConfig()
    sink = SinkConfig()
    doc: dict[str, Any] = {}
    if path:
        with open(path, "rb") as f:
            doc = tomllib.load(f)

    dnstap_sec = doc.get("dnstap", {})
    _patch(agg, _AGG_KEYS, doc.get("aggregator", {}))
    _patch(sink, _SINK_KEYS, doc.get("clickhouse", {}))

    # CLI args win over file values (toml.go:165-173 ordering)
    for key, val in (cli_overrides or {}).items():
        _patch(agg, _AGG_KEYS, {key: val})
        _patch(sink, _SINK_KEYS, {key: val})

    # cross-section propagation (toml.go:181-187): dnstap-level gates are
    # visible to the aggregation stage so the plan builder can gate itself
    for gate in ("client_queries", "non_ok_client_responses", "client_response_time_samples"):
        if gate in dnstap_sec:
            setattr(agg, gate, bool(dnstap_sec[gate]))

    # re-derive the sample interval if write_interval changed and the file
    # didn't pin it (toml.go:189-191)
    if "response_time_aggregation_interval" not in doc.get("aggregator", {}) and not (
        cli_overrides and "response_time_aggregation_interval" in cli_overrides
    ):
        agg.response_time_interval_s = max(1, agg.write_interval_s // 2)

    return EngineConfig(aggregator=agg, sink=sink)
