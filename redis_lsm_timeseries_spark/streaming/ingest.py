"""Structured Streaming ingest (reference parity, SURVEY.md §2.3
streaming + build plan stage 3).

The reference is a continuously-written store, not a streaming engine:
every ``write()`` call is a micro-batch append, the hot store is the
state, and late data simply lands in its (possibly already-purged)
partition and re-registers it (``index.js:81``;
``test/consumer-test.js:936-989``). The Spark analog is exact:

- ingest = ``writeStream`` into the SAME partitioned hot layout the
  batch path writes (one source of truth, no dual storage format);
- the tumbling ``window(ts, W)`` IS the partition function
  ``ts - ts % W`` — a streaming windowed aggregate groups by exactly
  the engine's partition key;
- late data: appended to its old partition, resolved at read time by
  the LWW merge — reference semantics, not watermark-dropped. The
  INGEST path never drops.

Exactly-once: the parquet sink + checkpoint gives idempotent file
commits per micro-batch (the reference's write is non-atomic across
its three ZADDs — SURVEY.md §2.2.7 — so this is strictly stronger).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from redis_lsm_timeseries_spark.config import PARTITION_COLS
from redis_lsm_timeseries_spark.errors import ConcurrentMaintenanceError
from redis_lsm_timeseries_spark.schema import SAMPLE_SCHEMA, WRITE_SCHEMA
from redis_lsm_timeseries_spark.store import TimeseriesStore


def read_sample_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source sample stream: (tag, ts, value) parquet files landing
    in a directory (the test stand-in for Kafka/Kinesis)."""
    return spark.readStream.schema(WRITE_SCHEMA).parquet(input_dir)


def start_hot_ingest(
    store: TimeseriesStore,
    stream: DataFrame,
    checkpoint_dir: str,
    writer_id: str = "stream",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous ingest into the hot table.

    Derives the same ingest metadata the batch path derives (O3): the
    micro-batch commit time as ``ingest_ts``, a writer id, and a ``seq``
    — so streamed and batch-written samples merge under one LWW rule.

    ``seq`` is a deterministic content hash rather than a monotonic
    counter: ``monotonically_increasing_id()`` is illegal on streaming
    DataFrames (analysis-time error), and a content-derived seq is also
    replay-stable — a micro-batch re-run after failure assigns the same
    seq to the same sample, so LWW tie-breaks don't depend on scheduling.
    Within one micro-batch the reference's "last entry wins" order is
    carried by ``ingest_ts`` (the batch commit time); distinct batches
    never tie on it.

    Intra-batch duplicate (tag, ts) keys: a file-source micro-batch has
    no defined row order (unlike the batch ``write()``, whose input is
    an ordered client batch), so "last entry wins" is undefined within
    one micro-batch; both members are appended and the LWW winner
    tie-breaks on the content-hash ``seq`` — DETERMINISTIC across
    replays, but not positional. Producers that need positional
    intra-batch semantics should assign their own ``seq`` upstream or
    route through ``start_hot_ingest_with_maintenance``, which collapses
    intra-batch duplicates per micro-batch.
    """
    w = store.config.partition_width
    enriched = (
        stream.withColumn(
            "ingest_ts", (F.unix_micros(F.current_timestamp()) / 1000).cast("long")
        )
        .withColumn("writer_id", F.lit(writer_id))
        .withColumn(
            "seq",
            F.pmod(F.xxhash64("tag", "ts", "value"), F.lit(2**62)).cast("long"),
        )
        .withColumn(
            "part_start",
            (F.col("ts") - F.pmod(F.col("ts"), F.lit(w))).cast("long"),
        )
        .select(*[f.name for f in SAMPLE_SCHEMA.fields])
    )
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", store.config.hot_path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*PARTITION_COLS)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_ingest_ts(checkpoint_dir: str, batch_id: int) -> int:
    """Replay-stable ingest timestamp for a foreachBatch micro-batch.

    The FIRST processing attempt of a batch records wall-clock ms in a
    sidecar file under the checkpoint dir (write-temp-then-rename, so a
    concurrent/crashed writer never exposes a partial file); every
    replay of the same batch_id reads the recorded value back. Replayed
    members are therefore IDENTITY-EQUAL to the originals — same
    (tag, ts, value, ingest_ts, writer_id, seq) — so identity dedup
    and the purge-ack anti-join treat original and replay as one
    member. Deriving ingest_ts from current_timestamp() instead would
    give replays a fresh ingest_ts: neither dropDuplicates nor the ack
    anti-join would collapse them, and a replay after an ack would
    resurrect purged rows into hot."""
    meta_dir = f"{checkpoint_dir}/rlts_batch_meta"
    os.makedirs(meta_dir, exist_ok=True)
    path = f"{meta_dir}/{batch_id}.json"
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)["ingest_ts"]
    ingest_ts = int(time.time() * 1000)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"ingest_ts": ingest_ts}, fh)
    os.replace(tmp, path)
    # A concurrent attempt may have won the rename race; re-read so
    # every attempt agrees on one value.
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)["ingest_ts"]


def make_maintenance_batch_handler(
    store: TimeseriesStore,
    checkpoint_dir: str,
    writer_id: str = "stream",
    maintenance_every: int = 1,
    partition_age_threshold_s: float = 300.0,
    max_partitions_to_mark: int = 10,
    rollups: list[tuple[str, int]] | None = None,
):
    """The foreachBatch handler behind
    ``start_hot_ingest_with_maintenance``, exposed so replay semantics
    are directly testable (call it twice with one batch_id = a replay).

    ``rollups`` = [(name, step_ms), ...]: continuous rollups to keep
    fresh from the ingest trigger — every maintenance turn runs
    ``refresh_rollup`` for each, whose watermark-driven incremental
    recompute makes the piggyback idempotent under micro-batch replay
    (a replayed batch writes identity-equal members, so the refresh
    sees nothing new)."""
    from redis_lsm_timeseries_spark.rollup import refresh_rollup
    from redis_lsm_timeseries_spark.tiering import purge_ack_many, purge_scan

    w = store.config.partition_width

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        enriched = (
            batch_df.withColumn(
                "ingest_ts",
                F.lit(_batch_ingest_ts(checkpoint_dir, batch_id)).cast("long"),
            )
            .withColumn("writer_id", F.lit(writer_id))
            .withColumn(
                "seq",
                F.pmod(F.xxhash64("tag", "ts", "value"), F.lit(2**62)).cast("long"),
            )
            .withColumn(
                "part_start",
                (F.col("ts") - F.pmod(F.col("ts"), F.lit(w))).cast("long"),
            )
        )
        # One member per (tag, ts) within the micro-batch.
        collapsed = enriched.groupBy("tag", "ts").agg(
            F.max_by(
                F.struct(*[f.name for f in SAMPLE_SCHEMA.fields]), F.col("seq")
            ).alias("m")
        ).select("m.*")
        # write_df takes the maintenance lease per micro-batch; another
        # lease holder (a concurrent compact, a bulk load) would
        # otherwise turn transient contention into a terminated
        # streaming query. Bounded retry with backoff; the terminal
        # raise is safe because a re-run of the micro-batch is
        # byte-identical (replay-stable ingest_ts, content-hash seq).
        for attempt in range(3):
            try:
                store.write_df(collapsed, cluster_by_partition=False)
                break
            except ConcurrentMaintenanceError:
                if attempt == 2:
                    raise
                time.sleep(0.5 * (attempt + 1))
        if batch_id % maintenance_every == 0:
            marks = purge_scan(
                store,
                partition_age_threshold_s=partition_age_threshold_s,
                max_partitions_to_mark=max_partitions_to_mark,
            )
            if marks:
                purge_ack_many(store, [m.purge_id for m in marks])
            for name, step in rollups or ():
                refresh_rollup(store, name, step)

    return handle_batch


def start_hot_ingest_with_maintenance(
    store: TimeseriesStore,
    stream: DataFrame,
    checkpoint_dir: str,
    writer_id: str = "stream",
    maintenance_every: int = 1,
    partition_age_threshold_s: float = 300.0,
    max_partitions_to_mark: int = 10,
    available_now: bool = True,
    rollups: list[tuple[str, int]] | None = None,
) -> StreamingQuery:
    """Ingest with the purge pipeline wired into the stream (SURVEY.md
    §3.3): a ``foreachBatch`` sink appends each micro-batch through the
    store API, then every ``maintenance_every``-th batch runs
    ``purge_scan`` and immediately acks the marks — the reference's
    enqueue-purge consumer loop (``example/service.js`` polling +
    ``ack-purge``) collapsed into the ingest trigger, so cold tiering
    needs no second scheduler.

    Differences from ``start_hot_ingest`` (plain parquet sink):

    - intra-batch duplicate (tag, ts) keys are collapsed to one member
      per micro-batch (greatest content-hash ``seq`` wins —
      deterministic under replay) before the append, matching the batch
      ``write()`` path's one-member-per-key posture;
    - appends go through ``store.write_df``, so the hot-handle cache is
      invalidated per batch and concurrent readers see fresh data;
    - the append is at-least-once: it is not idempotent, but replayed
      members ARE exact duplicates —
      ``ingest_ts`` is pinned per batch_id in a checkpoint sidecar
      (``_batch_ingest_ts``) and ``seq`` is a content hash — so LWW
      collapses them at read time and the ack anti-join removes
      original + replay together; storage may hold transient duplicate
      members until compaction.
    """
    handle_batch = make_maintenance_batch_handler(
        store,
        checkpoint_dir,
        writer_id=writer_id,
        maintenance_every=maintenance_every,
        partition_age_threshold_s=partition_age_threshold_s,
        max_partitions_to_mark=max_partitions_to_mark,
        rollups=rollups,
    )
    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
