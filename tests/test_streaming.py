"""Structured Streaming tests: continuous ingest into the hot layout,
late-data semantics (append + LWW, never dropped), and the streaming
rollup vs its batch equivalent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.schema import WRITE_SCHEMA
from redis_lsm_timeseries_spark.streaming import start_hot_ingest
from redis_lsm_timeseries_spark.streaming.ingest import read_sample_stream


def _land_batch(spark, input_dir: str, rows, batch: int) -> None:
    df = spark.createDataFrame(rows, WRITE_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(f"{input_dir}/b{batch}")


@pytest.fixture()
def stream_dirs(tmp_path):
    inp = tmp_path / "incoming"
    inp.mkdir()
    return str(inp), str(tmp_path / "checkpoint")


class TestHotIngest:
    def test_streamed_rows_readable(self, spark, store, stream_dirs):
        input_dir, ckpt = stream_dirs
        _land_batch(
            spark,
            input_dir,
            [("GapTag", 1, "One"), ("GapTag", 2, "Two"), ("SerialTag", 3, "Three")],
            batch=0,
        )
        q = start_hot_ingest(
            store, read_sample_stream(spark, f"{input_dir}/*"), ckpt
        )
        q.awaitTermination(120)
        out = {
            (r.tag, r.ts): r.value
            for r in store.read_range(
                {"GapTag": (0, 100), "SerialTag": (0, 100)}
            ).collect()
        }
        assert out == {
            ("GapTag", 1): "One",
            ("GapTag", 2): "Two",
            ("SerialTag", 3): "Three",
        }

    def test_late_data_lands_in_old_partition_lww(self, spark, store, stream_dirs):
        """Reference semantics (index.js:81): late data is appended to
        its original partition and wins by LWW — never dropped."""
        input_dir, ckpt = stream_dirs
        _land_batch(spark, input_dir, [("GapTag", 2, "Two")], batch=0)
        q = start_hot_ingest(
            store, read_sample_stream(spark, f"{input_dir}/*"), ckpt
        )
        q.awaitTermination(120)

        # A later micro-batch carries an update for the SAME old ts.
        _land_batch(spark, input_dir, [("GapTag", 2, "NewTwo")], batch=1)
        q2 = start_hot_ingest(
            store, read_sample_stream(spark, f"{input_dir}/*"), ckpt
        )
        q2.awaitTermination(120)

        out = {
            (r.tag, r.ts): r.value
            for r in store.read_range({"GapTag": (0, 100)}).collect()
        }
        assert out == {("GapTag", 2): "NewTwo"}
        # Both members retained in storage (LSM append).
        assert store.hot().where("tag = 'GapTag' AND ts = 2").count() == 2

    def test_checkpoint_exactly_once(self, spark, store, stream_dirs):
        """Re-running the stream over the same checkpoint must not
        duplicate rows."""
        input_dir, ckpt = stream_dirs
        _land_batch(spark, input_dir, [("GapTag", 1, "One")], batch=0)
        for _ in range(2):
            q = start_hot_ingest(
                store, read_sample_stream(spark, f"{input_dir}/*"), ckpt
            )
            q.awaitTermination(120)
        assert store.hot().count() == 1


class TestIngestWithMaintenance:
    def test_purge_maintenance_on_ingest_no_data_loss(
        self, spark, store, stream_dirs
    ):
        """SURVEY §3.3: the purge pipeline driven by the ingest stream
        itself. With a zero idle threshold every batch's partitions are
        marked and acked to cold as the stream runs; the unified
        hot-union-cold read must still return every sample."""
        from redis_lsm_timeseries_spark.streaming import (
            start_hot_ingest_with_maintenance,
        )
        from redis_lsm_timeseries_spark.tiering import purge_log

        input_dir, ckpt = stream_dirs
        rows = [("GapTag", 1, "One"), ("GapTag", 7, "Seven"), ("SerialTag", 2, "Two")]
        _land_batch(spark, input_dir, rows, batch=0)
        q = start_hot_ingest_with_maintenance(
            store,
            read_sample_stream(spark, f"{input_dir}/*"),
            ckpt,
            partition_age_threshold_s=0.0,
        )
        assert q.awaitTermination(300)
        assert q.exception() is None

        log = purge_log(store)
        assert log.where("status = 'marked'").count() >= 1
        assert log.where("status = 'acked'").count() >= 1
        # Evicted from hot, but the unified read loses nothing.
        assert store.cold().count() >= 1
        out = {
            (r.tag, r.ts): r.value
            for r in store.read_range(
                {"GapTag": (0, 100), "SerialTag": (0, 100)},
                include_cold=True,
            ).collect()
        }
        assert out == {(t, ts): v for t, ts, v in rows}

    def test_intra_batch_duplicate_keys_collapse(
        self, spark, store, stream_dirs
    ):
        """The maintenance path stores ONE member per (tag, ts) within
        a micro-batch (batch write() posture), unlike the plain sink
        which keeps both and resolves at read time."""
        from redis_lsm_timeseries_spark.streaming import (
            start_hot_ingest_with_maintenance,
        )

        input_dir, ckpt = stream_dirs
        _land_batch(
            spark,
            input_dir,
            [("GapTag", 1, "A"), ("GapTag", 1, "B")],
            batch=0,
        )
        q = start_hot_ingest_with_maintenance(
            store,
            read_sample_stream(spark, f"{input_dir}/*"),
            ckpt,
            partition_age_threshold_s=3600.0,  # no purge this time
        )
        assert q.awaitTermination(300)
        assert q.exception() is None
        assert store.hot().where("tag = 'GapTag' AND ts = 1").count() == 1
        # Deterministic winner: greatest content-hash seq.
        [r] = store.read_range({"GapTag": (0, 100)}).collect()
        assert r.value in ("A", "B")


class TestStreamingRollup:
    def test_rollup_matches_batch(self, spark):
        from redis_lsm_timeseries_spark.plans import REGISTRY
        from redis_lsm_timeseries_spark.sources.testdata import load_events

        sf = "/root/testdata/sf0.001"
        got = {
            (r.tag, r.bucket_ms): (r.n, r.sum_v)
            for r in REGISTRY["stream_rollup_tumbling"].fn(spark, sf).collect()
        }
        ev = load_events(spark, sf)
        want = {
            (r.tag, r.bucket_ms): (r.n, r.sum_v)
            for r in ev.groupBy(
                F.col("event_type").alias("tag"),
                (F.col("ts_ms") - F.pmod(F.col("ts_ms"), F.lit(300_000))).alias(
                    "bucket_ms"
                ),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_v"),
            )
            .collect()
        }
        assert got == want


class TestReplayIdentity:
    def test_batch_ingest_ts_pinned_per_batch(self, tmp_path):
        from redis_lsm_timeseries_spark.streaming.ingest import _batch_ingest_ts

        ckpt = str(tmp_path / "ckpt")
        t0 = _batch_ingest_ts(ckpt, 0)
        assert _batch_ingest_ts(ckpt, 0) == t0  # replay reads it back
        assert isinstance(t0, int)
        t1 = _batch_ingest_ts(ckpt, 1)
        assert _batch_ingest_ts(ckpt, 1) == t1

    def test_replayed_batch_members_are_identity_equal(
        self, spark, store, stream_dirs
    ):
        """A foreachBatch replay must append members IDENTITY-EQUAL to
        the first attempt (ingest_ts pinned per batch_id in a
        checkpoint sidecar), so identity dedup and the ack anti-join
        collapse original + replay as one member (ADVICE r3: with
        current_timestamp() the replica had a fresh ingest_ts and
        survived both)."""
        from redis_lsm_timeseries_spark.schema import MEMBER_IDENTITY_COLS
        from redis_lsm_timeseries_spark.streaming.ingest import (
            make_maintenance_batch_handler,
        )

        _, ckpt = stream_dirs
        handler = make_maintenance_batch_handler(
            store, ckpt, partition_age_threshold_s=3600.0
        )
        batch = spark.createDataFrame(
            [("T", 1, "a"), ("T", 2, "b")], WRITE_SCHEMA
        )
        handler(batch, 0)
        assert store.hot().count() == 2
        handler(batch, 0)  # replay of the same micro-batch
        # Raw storage holds the duplicates (at-least-once append)…
        assert store.hot().count() == 4
        # …but they are exact duplicates: identity dedup collapses them
        assert store.hot().dropDuplicates(MEMBER_IDENTITY_COLS).count() == 2
        out = {
            (r.tag, r.ts): r.value
            for r in store.read_range({"T": (0, 10)}).collect()
        }
        assert out == {("T", 1): "a", ("T", 2): "b"}
        # …and compaction removes them physically.
        from redis_lsm_timeseries_spark.tiering import compact

        metrics = compact(store)
        assert metrics.rows_after == 2
        assert store.hot().count() == 2


class TestColdArchiveSink:
    def test_foreachbatch_writes_reference_text_archive(
        self, spark, store, stream_dirs, tmp_path
    ):
        """O11 example-sink parity in streaming form: a foreachBatch
        sink writes the reference consumer's per-partition text-archive
        format (service.js:89-107); the files parse back to the
        original samples."""
        from redis_lsm_timeseries_spark.sources.wire import (
            encode_cold_text_lines,
            parse_cold_text_lines,
        )
        from redis_lsm_timeseries_spark.streaming.ingest import (
            read_sample_stream,
        )

        input_dir, ckpt = stream_dirs
        _land_batch(
            spark,
            input_dir,
            [("GapTag", 1, "One"), ("GapTag", 11, "Eleven")],
            batch=0,
        )
        out_dir = str(tmp_path / "raw-db")

        def archive(batch_df, batch_id):
            w = 5  # partition width of the store fixture
            lines = encode_cold_text_lines(
                batch_df.withColumn(
                    "part_start", F.col("ts") - F.col("ts") % w
                ),
                entry_time_ms=1234,
            )
            (
                lines.withColumnRenamed("line", "value")
                .write.mode("append")
                .partitionBy("file")
                .text(out_dir)
            )

        q = (
            read_sample_stream(spark, f"{input_dir}/*")
            .writeStream.foreachBatch(archive)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

        back = parse_cold_text_lines(
            spark.read.text(out_dir).withColumnRenamed("value", "line")
        )
        got = {(r.ts, r.value) for r in back.collect()}
        assert got == {(1, "One"), (11, "Eleven")}
        # Partition-file layout matches {tag}-{part_start}.
        import os as _os

        dirs = {d for d in _os.listdir(out_dir) if d.startswith("file=")}
        assert dirs == {"file=GapTag-0", "file=GapTag-10"}


class TestIngestLeaseContention:
    def test_transient_lease_contention_retries_not_fails(
        self, spark, store, stream_dirs, monkeypatch
    ):
        """ADVICE r10: write_df takes the maintenance lease per
        micro-batch, so a foreachBatch append racing another lease
        holder used to terminate the streaming query on first
        contention. The handler now retries a bounded number of times
        before surfacing the error."""
        from redis_lsm_timeseries_spark.errors import (
            ConcurrentMaintenanceError,
        )
        from redis_lsm_timeseries_spark.streaming.ingest import (
            make_maintenance_batch_handler,
        )

        _, ckpt = stream_dirs
        handler = make_maintenance_batch_handler(
            store, ckpt, partition_age_threshold_s=3600.0
        )
        real = store.write_df
        calls = {"n": 0}

        def flaky(df, **kw):
            calls["n"] += 1
            if calls["n"] <= 2:
                raise ConcurrentMaintenanceError("lease held by other")
            return real(df, **kw)

        monkeypatch.setattr(store, "write_df", flaky)
        batch = spark.createDataFrame(
            [("T", 1, "a"), ("T", 2, "b")], WRITE_SCHEMA
        )
        handler(batch, 0)  # two transient failures, third attempt lands
        assert calls["n"] == 3
        assert store.hot().count() == 2

        calls["n"] = -10_000  # every attempt fails -> bounded raise
        with pytest.raises(ConcurrentMaintenanceError):
            handler(batch, 1)
