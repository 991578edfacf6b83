from .ann_index import ann_index_search, ann_index_sink, update_ann_index
from .curation import curate_batch, curation_sink
from .dedup_index import dedup_index_sink, update_dedup_index
from .listen import TABLE_PKS, listen_stream
from .publish import (
    ConcurrentWriteError,
    compact_published,
    history,
    publish_batch,
    read_manifest,
    read_published,
    vacuum,
)
from .silver import lookup_history, update_continuation_history
from .sse import parse_sse_lines, sse_events_to_raw_rows
from .stateful import (
    advance_sessions,
    dedup_within_watermark,
    sessionize_stream,
    windowed_counts,
)

__all__ = [
    "TABLE_PKS",
    "ann_index_search",
    "ann_index_sink",
    "update_ann_index",
    "curate_batch",
    "curation_sink",
    "dedup_index_sink",
    "update_dedup_index",
    "ConcurrentWriteError",
    "compact_published",
    "history",
    "listen_stream",
    "parse_sse_lines",
    "sse_events_to_raw_rows",
    "publish_batch",
    "read_manifest",
    "read_published",
    "vacuum",
    "lookup_history",
    "update_continuation_history",
    "advance_sessions",
    "dedup_within_watermark",
    "sessionize_stream",
    "windowed_counts",
]
