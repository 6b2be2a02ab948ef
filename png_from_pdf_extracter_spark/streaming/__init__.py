from .extract_stream import (
    stream_extract,
    stream_extract_to_catalog,
    stream_extract_to_snapshots,
    stream_interval_join,
    stream_static_enrich,
    stream_turn_rates,
    stream_dedup,
    stream_sessionize,
    stream_upsert_to_snapshots,
)

__all__ = [
    "stream_extract",
    "stream_extract_to_catalog",
    "stream_extract_to_snapshots",
    "stream_interval_join",
    "stream_static_enrich",
    "stream_turn_rates",
    "stream_dedup",
    "stream_sessionize",
    "stream_upsert_to_snapshots",
]
