"""Streaming catalog queries: real Structured Streaming jobs driven to
completion inside a ``queries()`` callable, so the driver's harness
checks streaming results against a batch SQL oracle.

The tumbling-window rollup runs in COMPLETE output mode over a finite
file source — after ``processAllAvailable`` the memory sink holds every
window, which equals the batch aggregation exactly (no watermark
truncation to reason about). That makes a genuinely streaming plan
(StateStore-backed windowed aggregation) hash-comparable to ANSI SQL.
"""

from __future__ import annotations

import uuid
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from redis_lsm_timeseries_spark.plans.catalog import register
from redis_lsm_timeseries_spark.session import materialize, pinned_shuffle_partitions
from redis_lsm_timeseries_spark.sources.testdata import (
    load_events,
    read_events_stream,
)

# Finite test streams pin the StateStore partition count (frozen from
# this conf at the first micro-batch): a vanilla session's 200 default
# spreads a few-key state over 200 near-empty state partitions and the
# per-partition store open/commit dominates the entry's wall time.
_stream_shuffle_partitions = partial(pinned_shuffle_partitions, n=8)

@register(
    "stream_rollup_tumbling",
    oracle="""
SELECT event_type AS tag,
       epoch_ms(ts) - epoch_ms(ts) % 300000 AS bucket_ms,
       count(*) AS n,
       CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
FROM events
GROUP BY event_type, epoch_ms(ts) - epoch_ms(ts) % 300000
""",
    tags=("streaming", "rollup"),
)
def stream_rollup_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling event-time rollup executed as a REAL
    Structured Streaming query (file source -> stateful windowed agg ->
    memory sink, complete mode), then returned as the sink table.
    The tumbling window is the engine's partition function:
    window(ts, W) groups by ts - ts % W."""
    stream = read_events_stream(spark, sf_dir).select(
        "event_type", "ts", "value"
    )
    agg = (
        stream.groupBy(
            F.window("ts", "5 minutes"), F.col("event_type").alias("tag")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        )
        .select(
            "tag",
            F.unix_millis(F.col("window.start")).alias("bucket_ms"),
            "n",
            "sum_v",
        )
    )
    return _run_to_memory_sink(spark, agg, "stream_rollup")


def _run_to_memory_sink(spark: SparkSession, agg: DataFrame, prefix: str) -> DataFrame:
    """Drive a finite streaming aggregation to completion in COMPLETE
    mode and return the memory-sink table."""
    sink_name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(sink_name)


@register(
    "stream_ingest_roundtrip",
    oracle="""
SELECT event_type AS tag,
       epoch_ms(ts) AS ts,
       CAST(max(event_id) AS VARCHAR) AS value
FROM events
WHERE event_id % 20 = 0
GROUP BY event_type, epoch_ms(ts)
""",
    tags=("streaming", "ingest", "mutation"),
)
def stream_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming INGEST (reference O2 as a
    continuous writer, ``index.js:64-94``): land a sample batch as a
    file, stream it through ``start_hot_ingest`` into a temp hot store
    (checkpointed exactly-once file-sink commit, hash-derived seq),
    then return the store's composed range read. Green only if the
    whole write path — schema enrichment, partition assignment,
    partitioned append — round-trips every sample."""
    import shutil
    import tempfile

    from redis_lsm_timeseries_spark.config import EngineConfig
    from redis_lsm_timeseries_spark.store import TimeseriesStore
    from redis_lsm_timeseries_spark.streaming.ingest import (
        read_sample_stream,
        start_hot_ingest,
    )

    base_dir = tempfile.mkdtemp(prefix="rlts_stream_ingest_")
    # ~5k-row temp store: size the shuffles to the data (same rationale
    # as the state-store pin in _stream_shuffle_partitions).
    try:
        with _stream_shuffle_partitions(spark):
            ev = load_events(spark, sf_dir)
            batch = (
                ev.where(F.col("event_id") % 20 == 0)
                .groupBy(
                    F.col("event_type").alias("tag"),
                    F.col("ts_ms").alias("ts"),
                )
                .agg(F.max("event_id").cast("string").alias("value"))
            )
            input_dir = f"{base_dir}/incoming"
            batch.coalesce(1).write.parquet(input_dir)

            store = TimeseriesStore(
                spark,
                EngineConfig(
                    root=f"{base_dir}/store", partition_width=604_800_000
                ),
            )
            store.initialize()
            q = start_hot_ingest(
                store,
                read_sample_stream(spark, input_dir),
                checkpoint_dir=f"{base_dir}/ckpt",
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("ingest stream did not finish in 300s")
            if q.exception() is not None:
                raise q.exception()

            # Full-store read instead of enumerating tags into a
            # read_range request map: the reference API shape (a
            # Map<tag, range> request) is exercised by ts_range_read;
            # here the assertion is "everything ingested comes back",
            # and read_all expresses that with no driver-side collect —
            # no assumption about tag cardinality survives in the plan.
            out = store.read_all()
            return materialize(out, "streaming.ingest_roundtrip", eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@register(
    "stream_stateful_latest",
    oracle="""
WITH e AS (
  SELECT event_type AS tag, epoch_ms(ts) AS ts_ms, event_id, "value" AS v
  FROM events
), r AS (
  SELECT tag, ts_ms, event_id, v,
         row_number() OVER (
           PARTITION BY tag ORDER BY ts_ms DESC, event_id DESC
         ) AS rn,
         count(*) OVER (PARTITION BY tag) AS n
  FROM e
)
SELECT tag,
       ts_ms AS last_ts,
       event_id AS last_seq,
       v AS last_value,
       CAST(n AS BIGINT) AS n_seen
FROM r WHERE rn = 1
""",
    tags=("streaming", "stateful", "udf"),
)
def stream_stateful_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-tag GroupState tracking the running LWW-latest sample — the
    reference's O6 reduction as live streaming state. Each micro-batch
    emits the group's current best; the wrapper takes the arg-max of
    the emissions, which equals the final state for ANY micro-batch
    splitting (the reduction is associative), so a batch arg-max SQL
    oracle checks it exactly."""
    from redis_lsm_timeseries_spark.streaming.stateful import (
        latest_per_tag_stateful,
    )

    stream = read_events_stream(spark, sf_dir).select(
        F.col("event_type").alias("tag"),
        F.col("ts_ms").alias("ts"),
        F.col("event_id").alias("seq"),
        F.col("value"),
    )
    updates = latest_per_tag_stateful(stream.groupBy("tag"))
    sink_name = f"stream_state_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (
            updates.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    emitted = spark.table(sink_name)
    w = F.max(
        F.struct(
            F.col("last_ts"), F.col("last_seq"), F.col("last_value")
        )
    ).alias("w")
    return (
        emitted.groupBy("tag")
        .agg(w, F.max("n_seen").alias("n_seen"))
        .select(
            "tag",
            F.col("w.last_ts").alias("last_ts"),
            F.col("w.last_seq").alias("last_seq"),
            F.col("w.last_value").alias("last_value"),
            "n_seen",
        )
    )


SESSION_GAP_MS = 1_800_000  # 30 minutes


@register(
    "stream_sessionize_users",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, "value" AS v FROM events
), o AS (
  SELECT user_id, ts_ms, v,
         lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev
  FROM e
), m AS (
  SELECT user_id, ts_ms, v,
         CASE WHEN prev IS NULL OR ts_ms - prev > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, ts_ms, v,
         sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts_ms
           ROWS UNBOUNDED PRECEDING
         ) AS sid
  FROM m
)
SELECT user_id,
       min(ts_ms) AS session_start_ms,
       max(ts_ms) + {SESSION_GAP_MS} AS session_end_ms,
       count(*) AS n_events,
       CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
FROM s GROUP BY user_id, sid
""",
    tags=("streaming", "session"),
)
def stream_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stateful streaming sessionization: ``session_window`` with
    a 30-minute gap per user, run as a real streaming query (StateStore
    session merging across micro-batches) and returned as the final
    table. The batch gaps-and-islands oracle computes the identical
    sessions.

    Timestamps are truncated to MILLISECONDS on ingest: the oracle
    sessionizes over epoch_ms, and a sub-millisecond residue on the gap
    comparison would flip session boundaries between engines."""
    stream = read_events_stream(spark, sf_dir).select(
        F.col("user_id"),
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        F.col("value"),
    )
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
            "n_events",
            "sum_v",
        )
    )
    return _run_to_memory_sink(spark, agg, "stream_session")
