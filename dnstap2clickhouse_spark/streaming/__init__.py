from .pipeline import (
    streaming_response_time_join,
    streaming_exact_dedup,
    streaming_curation_filter,
    stateful_match_query,
    run_stream_to_memory,
)
from .match_state import stateful_match_once, tag_pair_streams, simulate_match

__all__ = [
    "streaming_response_time_join",
    "streaming_exact_dedup",
    "streaming_curation_filter",
    "stateful_match_query",
    "run_stream_to_memory",
    "stateful_match_once",
    "tag_pair_streams",
    "simulate_match",
]
