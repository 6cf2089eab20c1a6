"""Canonical sample schema (SURVEY.md §1.4).

The reference stores each sample as one Redis ZSET member:
``JSON.stringify({p: value, u: "${ingestTime}-${instanceName}-${counter}"})``
scored by the partition-relative sort key (``index.js:123-124``). Our
columnar equivalent keeps the sort key and the three components of the
``u`` uniquifier as typed columns so last-write-wins is an ordinary
window ordering instead of a string comparison:

- ``tag``        series name (``index.js:107``)
- ``ts``         int64 sort key, ms timestamp in practice (``index.js:120``)
- ``value``      opaque JSON payload ``p`` (``index.js:123``)
- ``ingest_ts``  wall clock at write, ms (``index.js:98``)
- ``writer_id``  store-instance id (``index.js:58``)
- ``seq``        in-batch counter (``index.js:131``)
- ``part_start`` derived ``ts - ts % W`` partition key (``index.js:121``)
"""

from __future__ import annotations

from pyspark.sql import types as T

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.StringType(), nullable=False),
        T.StructField("ts", T.LongType(), nullable=False),
        T.StructField("value", T.StringType(), nullable=True),
        T.StructField("ingest_ts", T.LongType(), nullable=False),
        T.StructField("writer_id", T.StringType(), nullable=False),
        T.StructField("seq", T.LongType(), nullable=False),
        T.StructField("part_start", T.LongType(), nullable=False),
    ]
)

# Input shape accepted by TimeseriesStore.write: (tag, ts, value).
WRITE_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.StringType(), nullable=False),
        T.StructField("ts", T.LongType(), nullable=False),
        T.StructField("value", T.StringType(), nullable=True),
    ]
)

# Columns that identify one physical sample (a ZSET member identity in the
# reference); exact-duplicate drop across hot/cold uses all of these.
MEMBER_IDENTITY_COLS = ["tag", "ts", "value", "ingest_ts", "writer_id", "seq"]

# LWW ordering within a (tag, ts) group — newest ingest wins, then
# writer id, then in-batch sequence (SURVEY.md §2.2.4 refinement).
LWW_ORDER_COLS = ["ingest_ts", "writer_id", "seq"]

PURGE_LOG_SCHEMA = T.StructType(
    [
        T.StructField("purge_id", T.StringType(), nullable=False),
        T.StructField("tag", T.StringType(), nullable=False),
        T.StructField("part_start", T.LongType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),  # marked | acked
        T.StructField("event_ts", T.LongType(), nullable=False),
        T.StructField("n_rows", T.LongType(), nullable=False),
    ]
)

# Cold-tier snapshot rows: the purge snapshot id plus the full sample.
# (purge_id, tag, part_start are the hive partition columns of the cold
# layout; an explicit schema keeps their types stable regardless of
# partition-value inference.)
COLD_SNAPSHOT_SCHEMA = T.StructType(
    [T.StructField("purge_id", T.StringType(), nullable=False)]
    + list(SAMPLE_SCHEMA.fields)
)
