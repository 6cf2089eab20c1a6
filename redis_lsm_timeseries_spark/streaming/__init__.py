"""Structured Streaming surface.

- ``ingest``   continuous ingest into the hot layout (file sink, or
               foreachBatch with in-stream maintenance)
- ``dedup``    watermark-bounded streaming dedup by key or content
- ``stateful`` per-tag latest-sample state (applyInPandasWithState)
- ``sink``     exactly-once foreachBatch sink into a manifest table
"""

from redis_lsm_timeseries_spark.streaming.dedup import (
    dedup_stream_by_content,
    dedup_stream_by_key,
)
from redis_lsm_timeseries_spark.streaming.ingest import (
    start_hot_ingest,
    start_hot_ingest_with_maintenance,
)

__all__ = [
    "dedup_stream_by_content",
    "dedup_stream_by_key",
    "start_hot_ingest",
    "start_hot_ingest_with_maintenance",
]
