"""PySpark-native analytics engine with the capabilities of
LRagji/redis-lsm-timeseries (reference read-only at /root/reference).

The reference is an LSM-inspired time-series store on Redis (one class
``SortedStore``, ``index.js:20``): partitioned ingest, pruned range reads
with read-time last-write-wins merge, and hot->cold tiering with an
at-least-once purge queue. This package re-expresses those *semantics*
Spark-first — partitioned Parquet tables + DataFrame plans Catalyst can
optimize — and extends them with the analytics / LLM-data-pipeline surface
(joins, aggregations, windows, dedup, similarity search, text analysis)
that the reference lacks (SURVEY.md §2.3).

Layout:
- ``config``     engine configuration (partition width, namespace hash, limits)
- ``session``    SparkSession builder tuned for the driver environment
- ``schema``     the canonical sample schema (SURVEY.md §1.4)
- ``errors``     validation errors (reference admission control, index.js:12-15)
- ``store``      TimeseriesStore: initialize/write/read_index/read_page/read_range
- ``tiering``    purge_scan / purge_ack lifecycle (enqueue-purge.lua, ack-purge.lua)
- ``fs``         StorageFilesystem seam for side-channel metadata ops
- ``operators``  analytics + LLM-pipeline operators (DataFrame-in/DataFrame-out)
- ``sources``    testdata loaders, wire formats, corpus I/O, the rlts_table connector
- ``functions``  portable scalar helpers (cross-checkable against DuckDB)
- ``plans``      the query catalog: name -> (spark fn, duckdb oracle SQL)
- ``streaming``  Structured Streaming ingest into the same hot layout
- ``commit``     TableCommit seam: lease/manifest backends, stats, app map
- ``changefeed`` exactly-once incremental mirroring over the change feed
- ``maintenance`` small-file compaction, optimize pass, table reports
- ``rollup``     continuous rollups
- ``sql_dml``    MERGE / UPDATE / DELETE / DESCRIBE HISTORY SQL facade
"""

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.store import TimeseriesStore

__all__ = ["EngineConfig", "TimeseriesStore"]
__version__ = "0.1.0"
