"""Config surface: TOML overlay, CLI patch, cross-section propagation,
derived interval (toml.go semantics), and F3 static plan gating."""

from __future__ import annotations

import os
import tempfile

import pytest

from dnstap2clickhouse_spark.__main__ import build_streams, start_queries
from dnstap2clickhouse_spark.config import AggregatorConfig, EngineConfig
from dnstap2clickhouse_spark.operators.columns import apply_column_config
from dnstap2clickhouse_spark.toml_config import load_config

TOML = """
[aggregator]
aggregate = true
write_interval = 40
groupby_question = false

[dnstap]
client_queries = true
non_ok_client_responses = false
client_response_time_samples = true

[clickhouse]
query_columns = { queryTime = "ts", identity = "", queryAddress = "addr", questionName = "qn", questionType = "qt", counter = "hits" }
"""

def _write(text: str) -> str:
    f = tempfile.NamedTemporaryFile("w", suffix=".toml", delete=False)
    f.write(text)
    f.close()
    return f.name

def test_defaults_match_reference():
    cfg = load_config()
    assert cfg.aggregator.write_interval_s == 20  # toml.go:46
    assert cfg.aggregator.response_time_interval_s == 10  # toml.go:189-191
    assert cfg.aggregator.groupby_question and cfg.aggregator.write_ungrouped

def test_toml_overlay_and_derivation(spark):
    cfg = load_config(_write(TOML))
    assert cfg.aggregator.write_interval_s == 40
    assert cfg.aggregator.response_time_interval_s == 20  # derived w/2
    assert cfg.aggregator.groupby_question is False
    # cross-section propagation (toml.go:181-187)
    assert cfg.aggregator.non_ok_client_responses is False
    assert cfg.aggregator.client_response_time_samples is True
    # column config with empty-name pruning payload intact
    assert cfg.sink.query_columns["identity"] == ""
    with pytest.raises(ValueError, match="prunes every column"):
        apply_column_config(spark.range(1), {k: "" for k in cfg.sink.query_columns})

def test_cli_overrides_win():
    cfg = load_config(_write(TOML), cli_overrides={"write_interval": 60})
    assert cfg.aggregator.write_interval_s == 60
    assert cfg.aggregator.response_time_interval_s == 30

def test_unknown_keys_ignored():
    cfg = load_config(_write("[aggregator]\nbogus_key = 1\n"))
    assert cfg.aggregator.write_interval_s == 20

def test_f3_static_plan_gating(spark, tmp_path):
    """F3 (dnstap.go:253-255; aggregator.go:553-573): the daemon builds a
    count table only when its option enables it, and starts no query when
    none is enabled."""
    bridge_dir, out_dir = str(tmp_path / "bridge"), str(tmp_path / "tables")
    os.makedirs(bridge_dir)

    def tables(cfg):
        return set(build_streams(spark, cfg, bridge_dir)[1])

    assert tables(EngineConfig(AggregatorConfig(non_ok_client_responses=False))) == {"clientQuery"}
    assert tables(EngineConfig()) == {"clientQuery", "clientResponse"}
    off = EngineConfig(AggregatorConfig(client_queries=False, non_ok_client_responses=False))
    streams = build_streams(spark, off, bridge_dir)
    assert streams[1] == {}
    active = len(spark.streams.active)
    assert start_queries(spark, off, streams, out_dir) == []
    assert len(spark.streams.active) == active
    assert not os.path.exists(out_dir)
