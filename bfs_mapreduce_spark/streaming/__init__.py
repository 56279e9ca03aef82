"""Structured Streaming surface: windows, watermarks, stateful ops.

See ``streaming.windows`` for the event-time operators and their
batch-parity contracts.
"""

from bfs_mapreduce_spark.streaming.windows import (
    events_stream,
    run_stream,
    session_counts,
    tumbling_counts,
)

__all__ = [
    "events_stream",
    "run_stream",
    "session_counts",
    "tumbling_counts",
]
