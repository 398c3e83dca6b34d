"""Structured Streaming operators (beyond-reference extension).

The reference has no streaming runtime — its README "Ideas" block
sketches ``deploy … as stream`` syntax that was never built (SURVEY
§2.9). This module is the Spark-native realization: file-source streams
over the same parquet tables, watermarked windowed aggregation, and
stateful per-key processing.
"""

from chapterhouseqe_spark.streaming.recurrence import (
    streaming_ewma,
)
from chapterhouseqe_spark.streaming.sessions import (
    sessionize,
    stateful_user_stats,
)
from chapterhouseqe_spark.streaming.windows import (
    read_events_stream,
    run_stream,
    stream_dedup,
    stream_state_partitions,
    stream_user_rollup,
    stream_window_counts,
)

__all__ = [
    "read_events_stream",
    "run_stream",
    "sessionize",
    "stateful_user_stats",
    "stream_dedup",
    "stream_state_partitions",
    "streaming_ewma",
    "stream_user_rollup",
    "stream_window_counts",
]
