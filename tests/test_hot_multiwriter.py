"""Hot-tier multi-writer posture (VERDICT r9 #5) — the final answer,
pinned by tests:

- Row-batch ``write()`` is LEASELESS and always safe concurrent with
  maintenance: it lands in the L0 directory, which maintenance folds
  via the rename protocol and never overwrites.
- Bulk ``write_df`` (direct L1 append) runs under the maintenance
  lease: an append racing a compaction/retention partition overwrite
  is the one lost-update window directory mode has, so bulk loads
  serialize against maintenance and fail fast with
  ``ConcurrentMaintenanceError`` under contention.
- ``start_hot_ingest``'s parquet file sink makes the SINK the
  exclusive L1 committer (its ``_spark_metadata`` log governs batch
  reads — a file appended by anyone else is committed-but-invisible,
  verified below); every batch L1 mutator refuses with
  ``SinkManagedHotTierError``. The maintenance-compatible streaming
  mode is ``start_hot_ingest_with_maintenance`` (foreachBatch ->
  ``write_df``), which leaves no sink log.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.errors import (
    ConcurrentMaintenanceError,
    SinkManagedHotTierError,
)
from redis_lsm_timeseries_spark.store import TimeseriesStore
from redis_lsm_timeseries_spark.tiering import compact, maintenance_lease, purge_scan

T0 = 1_000_000


def _mk(spark, tmp_path, name="engine"):
    cfg = EngineConfig(root=str(tmp_path / name), partition_width=1_000)
    s = TimeseriesStore(spark, cfg)
    s.initialize()
    return s


def _dump_state(store, key):
    """Forensic dump for the rare lose-nothing flake (VERDICT r12 #2):
    the physical layout plus every raw member for the lost key, so one
    captured failure distinguishes (a) a segment that vanished from
    L0/staging, (b) a fold that never reached L1, (c) an overwrite
    that dropped a folded row, (d) a stale read of present data."""
    import os

    lines = [f"--- state dump for key {key} ---"]
    for label, path in (
        ("l0", store.config.l0_path),
        ("staging", store.config.l0_staging_path),
        ("hot", store.config.hot_path),
    ):
        if not os.path.exists(path):
            lines.append(f"{label}: <absent>")
            continue
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for f in sorted(files):
                sz = os.path.getsize(os.path.join(root, f))
                lines.append(f"{label}: {rel}/{f} ({sz}B)")
    tag, ts = key
    store.invalidate_hot_cache()
    raw = store.hot().where(
        (F.col("tag") == tag) & (F.col("ts") == ts)
    ).collect()
    lines.append(f"raw members for {key} (fresh hot scan): {raw}")
    return "\n".join(lines)


def _second_writer(spark, store):
    """Another writer process on the SAME namespace (fresh writer_id,
    fresh lease state, same backend class)."""
    s = TimeseriesStore(spark, store.config, commit=type(store.commit)())
    s.initialize()
    return s


class TestRowBatchWritesVsMaintenance:
    def test_concurrent_writes_and_compaction_lose_nothing(
        self, spark, tmp_path
    ):
        """Writer B hammers leaseless row-batch writes (with LWW
        updates) while writer A runs compaction cycles. Every key must
        read back with its latest value — the L0 protocol's guarantee
        under real concurrency."""
        a = _mk(spark, tmp_path)
        b = _second_writer(spark, a)
        n_batches, keys_per_batch = 8, 20
        compact_errors: list[Exception] = []

        def maintenance():
            try:
                for _ in range(4):
                    compact(a)
            except Exception as exc:  # surfaced after join
                compact_errors.append(exc)

        # r13 root cause of the ~1/40 flake: write()'s L0 job commit
        # CREATES hot_l0/_SUCCESS (create, then chmod) while flush_l0
        # DELETES it — the delete landing between the two fails the
        # whole write job ("chmod: cannot access .../_SUCCESS"). The
        # L0 writer now suppresses the marker entirely (nothing reads
        # it); this pins that it stays suppressed.
        b.write([("seed", 0, "s")], ingest_ts=T0 - 1)
        assert not b.fs.exists(f"{b.config.l0_path}/_SUCCESS"), (
            "L0 append produced a _SUCCESS marker — the "
            "flush-vs-commit chmod race is back"
        )
        t = threading.Thread(target=maintenance)
        t.start()
        try:
            for i in range(n_batches):
                # round i rewrites every key (LWW update churn for the
                # compactor) and adds a fresh key per round
                batch = [
                    (f"tag{k % 4}", k * 100, f"v{i}")
                    for k in range(keys_per_batch)
                ]
                batch.append((f"round{i}", 50, f"r{i}"))
                b.write(batch, ingest_ts=T0 + i)
        finally:
            t.join()
        assert not compact_errors, [
            f"{type(e).__name__}: {e}" for e in compact_errors
        ]
        b.flush_l0()
        rows = {
            (r.tag, r.ts): r.value
            for r in b.read_all().collect()
        }
        for k in range(keys_per_batch):
            key = (f"tag{k % 4}", k * 100)
            assert rows.get(key) == f"v{n_batches - 1}", (
                f"lost update at {key}: got {rows.get(key)!r}, "
                f"total rows {len(rows)}\n" + _dump_state(b, key)
            )
        for i in range(n_batches):
            key = (f"round{i}", 50)
            assert rows.get(key) == f"r{i}", (
                f"lost row at {key}: got {rows.get(key)!r}, "
                f"total rows {len(rows)}\n" + _dump_state(b, key)
            )

    @pytest.mark.parametrize("path", ["spark", "driver"])
    def test_write_after_compaction_scan_survives(self, spark, tmp_path, monkeypatch, path):
        """A row-batch write landing while compaction is mid-flight
        (after its kernel read the partitions) is in L0, not L1 — the
        partition rewrite cannot touch it. The write lands before the
        publish, after the kernel ran in Spark tasks (forced by a
        driver read cap of 0) or in-process."""
        from redis_lsm_timeseries_spark import store as store_module
        from redis_lsm_timeseries_spark import tiering

        a = _mk(spark, tmp_path)
        b = _second_writer(spark, a)
        # seed duplicates so compaction has work, in two partitions so
        # a cap of 0 makes two batches
        a.write([("t", 100, "old"), ("s", 1, "seed")], ingest_ts=T0)
        a.write([("t", 100, "new")], ingest_ts=T0 + 1)
        a.flush_l0()

        def racing(real):
            def run(*args, **kw):
                # B's write lands between compaction's scan and its commit
                b.write([("t", 100, "latest"), ("u", 5, "x")], ingest_ts=T0 + 2)
                return real(*args, **kw)

            return run

        if path == "spark":
            monkeypatch.setattr(store_module, "MAX_DRIVER_READ_BYTES", 0)
        monkeypatch.setattr(
            tiering, "_publish_compacted", racing(tiering._publish_compacted)
        )
        compact(a)
        monkeypatch.undo()
        got = {
            (r.tag, r.ts): r.value for r in b.read_all().collect()
        }
        assert got == {("t", 100): "latest", ("u", 5): "x", ("s", 1): "seed"}


class TestBulkLoadLease:
    def _df(self, spark, tag="bulk", n=10):
        return spark.range(n).select(
            F.lit(tag).alias("tag"),
            (F.col("id") * 100).alias("ts"),
            F.col("id").cast("string").alias("value"),
        )

    def test_write_df_contends_with_maintenance(self, spark, tmp_path):
        a = _mk(spark, tmp_path)
        b = _second_writer(spark, a)
        with maintenance_lease(a):
            with pytest.raises(ConcurrentMaintenanceError):
                b.write_df(self._df(spark), ingest_ts=T0)
        b.write_df(self._df(spark), ingest_ts=T0)  # after release
        assert b.read_all().count() == 10

    def test_maintenance_contends_with_bulk_lease(self, spark, tmp_path):
        """Symmetric: while a bulk load holds the lease, maintenance
        fails fast instead of overwriting under the append."""
        a = _mk(spark, tmp_path)
        b = _second_writer(spark, a)
        with b.commit.maintenance_lock(b):
            with pytest.raises(ConcurrentMaintenanceError):
                compact(a)

    @pytest.mark.parametrize("path", ["driver", "spark"])
    def test_crashed_bulk_load_releases_lease_and_commits_nothing(
        self, spark, tmp_path, monkeypatch, path
    ):
        """The load's collect (a small input lands on the driver) or
        its write job (forced by a driver read cap of 0) fails."""
        from redis_lsm_timeseries_spark import store as store_module

        if path == "spark":
            monkeypatch.setattr(store_module, "MAX_DRIVER_READ_BYTES", 0)
        a = _mk(spark, tmp_path)
        # every task of the bulk load's job fails
        dying = self._df(spark).withColumn(
            "value", F.raise_error(F.lit("bulk job died")).cast("string")
        )
        with pytest.raises(Exception, match="bulk job died"):
            a.write_df(dying, ingest_ts=T0)
        assert not [
            n for _, _, names in os.walk(a.config.hot_path)
            for n in names if n.endswith(".parquet")
        ]
        # lease released: the retry needs no steal, and no partial rows
        a.write_df(self._df(spark), ingest_ts=T0)
        assert a.read_all().count() == 10

    def test_row_batch_write_never_touches_the_lease(self, spark, tmp_path):
        a = _mk(spark, tmp_path)
        b = _second_writer(spark, a)
        with maintenance_lease(a):
            b.write([("t", 1, "v")], ingest_ts=T0)  # no contention
        assert b.read_all().count() == 1


class TestThreadLevelLease:
    def test_second_thread_of_same_store_is_rejected(self, spark, tmp_path):
        """r10 review: lease reentrancy is per THREAD, not per
        instance — a foreachBatch write_df on the stream thread must
        not silently share the lease a main-thread compact holds on
        the same store object (same writer id, so the lease FILE
        cannot arbitrate; the in-process lock does)."""
        a = _mk(spark, tmp_path)
        a.write([("t", 1, "v")], ingest_ts=T0)
        results: list = []

        def other_thread():
            try:
                with a.commit.maintenance_lock(a):
                    results.append("acquired")
            except ConcurrentMaintenanceError:
                results.append("rejected")

        with maintenance_lease(a):
            t = threading.Thread(target=other_thread)
            t.start()
            t.join()
        assert results == ["rejected"]
        # and after release the same thread-call succeeds
        t2 = threading.Thread(target=other_thread)
        t2.start()
        t2.join()
        assert results[-1] == "acquired"

    def test_same_thread_reentrancy_still_nests(self, spark, tmp_path):
        a = _mk(spark, tmp_path)
        a.write([("t", 1, "old"), ("t", 1, "new")], ingest_ts=T0)
        with maintenance_lease(a):
            compact(a)  # nested acquisitions on the same thread
        assert a.read_all().count() == 1

    def test_heartbeat_extends_lease_during_long_operations(
        self, spark, tmp_path
    ):
        """r10 review: a holder outliving its TTL keeps the lease via
        the nonce-guarded heartbeat (expires_ms re-extends while
        alive) — long bulk loads stay protected without inflating the
        crash-recovery horizon (a dead holder stops renewing)."""
        import json, time

        a = _mk(spark, tmp_path)
        a.write([("t", 1, "v")], ingest_ts=T0)
        lease_path = f"{a.config.base_path}/_maintenance_lease"
        with a.commit.maintenance_lock(a, ttl_s=1.5):
            first = json.loads(a.fs.read_text(lease_path))["expires_ms"]
            time.sleep(1.4)  # past one heartbeat interval (ttl/3 -> 1s)
            renewed = json.loads(a.fs.read_text(lease_path))["expires_ms"]
            assert renewed > first
        assert not a.fs.exists(lease_path)  # clean release, no raise

    def test_steal_mid_operation_raises_on_exit(self, spark, tmp_path):
        """A lease stolen while the operation runs (TTL outlived) must
        not pass silently: the writes may have raced the stealer's."""
        import json

        a = _mk(spark, tmp_path)
        a.write([("t", 1, "v")], ingest_ts=T0)
        lease_path = f"{a.config.base_path}/_maintenance_lease"
        with pytest.raises(ConcurrentMaintenanceError, match="stolen"):
            with a.commit.maintenance_lock(a):
                # a stealer replaces the lease under us
                a.fs.write_text(
                    lease_path,
                    json.dumps(
                        {
                            "holder": "stealer",
                            "nonce": "x",
                            "expires_ms": 10**15,
                        }
                    ),
                )
        # the stealer's lease was NOT deleted by our exit
        import json as _json

        cur = _json.loads(a.fs.read_text(lease_path))
        assert cur["holder"] == "stealer"
        a.fs.remove_file(lease_path)


class TestFileSinkExclusivity:
    @pytest.fixture()
    def sink_store(self, spark, tmp_path):
        """A store whose hot tier was written by the parquet file sink
        (``start_hot_ingest``) — ``_spark_metadata`` present."""
        from redis_lsm_timeseries_spark.streaming.ingest import (
            read_sample_stream,
            start_hot_ingest,
        )

        s = _mk(spark, tmp_path)
        incoming = str(tmp_path / "incoming")
        spark.createDataFrame(
            [("t", 100, "sink")], "tag string, ts long, value string"
        ).coalesce(1).write.parquet(incoming)
        q = start_hot_ingest(
            s,
            read_sample_stream(spark, incoming),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        assert q.awaitTermination(300)
        assert s.fs.exists(f"{s.config.hot_path}/_spark_metadata")
        return s

    def test_batch_append_would_be_invisible(self, spark, sink_store):
        """The reason for the guard, demonstrated on the real layout:
        a file appended outside the sink's commit log does not show up
        in a batch read of the hot directory."""
        s = sink_store
        spark.createDataFrame(
            [("t", 200, "ghost", T0, "w", 0, 0)],
            "tag string, ts long, value string, ingest_ts long, "
            "writer_id string, seq long, part_start long",
        ).write.mode("append").partitionBy("tag", "part_start").parquet(
            s.config.hot_path
        )
        s.invalidate_hot_cache()
        vals = {r.value for r in s.read_all().collect()}
        assert "ghost" not in vals and "sink" in vals

    def test_l1_mutators_refuse(self, spark, sink_store):
        from redis_lsm_timeseries_spark.rollup import refresh_rollup
        from redis_lsm_timeseries_spark.tiering import apply_retention

        s = sink_store
        df = spark.createDataFrame(
            [("b", 1, "x")], "tag string, ts long, value string"
        )
        with pytest.raises(SinkManagedHotTierError):
            s.write_df(df, ingest_ts=T0)
        with pytest.raises(SinkManagedHotTierError):
            compact(s)
        with pytest.raises(SinkManagedHotTierError):
            apply_retention(s, older_than_ms=10**15)
        with pytest.raises(SinkManagedHotTierError):
            purge_scan(s, 0.0, 10)
        # a rollup refresh reads the listed L1 files, which the sink's
        # log would not define
        with pytest.raises(SinkManagedHotTierError):
            refresh_rollup(s, "agg", 10)
        # write() is still fine (L0 is the sink-independent tier and
        # hot() unions it) ...
        s.write([("w", 5, "l0row")], ingest_ts=T0)
        vals = {r.value for r in s.read_all().collect()}
        assert vals == {"sink", "l0row"}
        # ... but folding it into the sink-owned L1 refuses
        with pytest.raises(SinkManagedHotTierError):
            s.flush_l0()


class TestLeaseReleaseRace:
    def test_release_never_resurrects_lease(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r10: the renewer thread passing _held_by_me() just as
        the holder releases must not recreate the removed lease file
        with a fresh expires_ms (which would block other writers for a
        full TTL). The renew/release mutex closes the interleave; this
        stress runs the heartbeat hot against rapid acquire/release
        cycles and asserts the lease never survives a release."""
        import time

        a = _mk(spark, tmp_path)
        a.write([("t", 1, "v")], ingest_ts=T0)
        lease_path = f"{a.config.base_path}/_maintenance_lease"
        monkeypatch.setattr(
            type(a.commit), "HEARTBEAT_FLOOR_S", 0.001
        )
        for _ in range(40):
            with a.commit.maintenance_lock(a, ttl_s=0.02):
                time.sleep(0.003)  # let at least one heartbeat fire
            assert not a.fs.exists(lease_path)
            time.sleep(0.005)  # a straggler beat would resurrect here
            assert not a.fs.exists(lease_path)
