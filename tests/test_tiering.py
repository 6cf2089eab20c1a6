"""Tiering lifecycle tests — FIXTURES.md §3, mirroring the reference's
purge corpus (test/consumer-test.js:767-1039)."""

from __future__ import annotations

import os

import pytest

from redis_lsm_timeseries_spark.commit import (
    ManifestCommit,
    ParquetLeaseCommit,
)
from redis_lsm_timeseries_spark.errors import ConcurrentMaintenanceError
from redis_lsm_timeseries_spark.tiering import (
    LEASE_FILE,
    _append_log,
    compact,
    compact_purge_log,
    maintenance_lease,
    purge_ack,
    purge_ack_many,
    purge_log,
    purge_payload,
    purge_scan,
)

GAP_SERIAL = [
    ("GapTag", 1, "One"),
    ("GapTag", 2, "Two"),
    ("GapTag", 10, "Ten"),
    ("GapTag", 20, "Twenty"),
    ("SerialTag", 1, "One"),
    ("SerialTag", 2, "Two"),
    ("SerialTag", 3, "Three"),
    ("SerialTag", 4, "Four"),
]

T0 = 1_000_000


@pytest.fixture(params=["parquet", "manifest"])
def store(spark, tmp_path, request):
    """Every tiering lifecycle test runs against both commit backends:
    the directory-mode ParquetLeaseCommit and the transactional
    ManifestCommit (VERDICT r8 #2), whose purge log and cold snapshots
    are version-logged while the hot tier stays a directory layout.
    Identical observable semantics across both is the seam's
    contract."""
    from redis_lsm_timeseries_spark.config import EngineConfig
    from redis_lsm_timeseries_spark.store import TimeseriesStore

    commit = (
        ParquetLeaseCommit() if request.param == "parquet"
        else ManifestCommit()
    )
    cfg = EngineConfig(root=str(tmp_path / "engine"), partition_width=5)
    s = TimeseriesStore(spark, cfg, commit=commit)
    s.initialize()
    return s


def _read_all(store, **kw):
    df = store.read_range({"GapTag": (0, 100), "SerialTag": (0, 100)}, **kw)
    return {(r.tag, r.ts): r.value for r in df.collect()}


class TestPurgeScan:
    def test_marks_all_idle_partitions(self, store):
        """W=5 → partitions GapTag-0/10/20 + SerialTag-0 all idle
        (test/consumer-test.js:784-788)."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        assert {(m.tag, m.part_start) for m in marks} == {
            ("GapTag", 0),
            ("GapTag", 10),
            ("GapTag", 20),
            ("SerialTag", 0),
        }
        log = purge_log(store)
        assert log.where("status = 'marked'").count() == 4
        # Marked-but-unacked data still lives in hot — reads unchanged.
        assert _read_all(store) == {(t, ts): v for t, ts, v in GAP_SERIAL}

    def test_threshold_excludes_fresh_partitions(self, store):
        store.write(GAP_SERIAL, ingest_ts=T0)
        assert purge_scan(store, 300, 10, now_ms=T0 + 1_000) == []
        assert len(purge_scan(store, 300, 10, now_ms=T0 + 300_000)) == 4

    def test_rescan_is_mark_once(self, store):
        """Marking removes from RecentActivity → re-scan returns nothing
        (test/consumer-test.js:898-934)."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        assert len(purge_scan(store, 0, 10, now_ms=T0 + 1_000)) == 4
        assert purge_scan(store, 0, 10, now_ms=T0 + 2_000) == []

    def test_oldest_k_limit(self, store):
        store.write([("GapTag", 1, "a")], ingest_ts=T0)
        store.write([("GapTag", 10, "b")], ingest_ts=T0 + 100)
        store.write([("GapTag", 20, "c")], ingest_ts=T0 + 200)
        marks = purge_scan(store, 0, 2, now_ms=T0 + 10_000)
        # Coldest two partitions only, oldest first.
        assert [(m.tag, m.part_start) for m in marks] == [
            ("GapTag", 0),
            ("GapTag", 10),
        ]

    def test_write_after_mark_reregisters(self, store):
        """A write to a marked partition re-registers it for scanning
        (index.js:81)."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        store.write([("GapTag", 2, "NewTwo")], ingest_ts=T0 + 2_000)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 10_000)
        assert [(m.tag, m.part_start) for m in marks] == [("GapTag", 0)]


class TestPurgeAck:
    def test_ack_evicts_members(self, store):
        """Acked members leave hot; hot∪cold reads stay complete
        (test/consumer-test.js:848-896, 991-1039)."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        gap0 = next(m for m in marks if (m.tag, m.part_start) == ("GapTag", 0))
        assert purge_ack(store, gap0.purge_id, now_ms=T0 + 2_000) is True

        hot_only = _read_all(store)
        assert ("GapTag", 1) not in hot_only and ("GapTag", 2) not in hot_only
        assert ("GapTag", 10) in hot_only  # other partitions untouched

        full = _read_all(store, include_cold=True)
        assert full == {(t, ts): v for t, ts, v in GAP_SERIAL}

    def test_partition_dir_dropped_when_empty(self, store):
        """Index entry removed only when the partition vanished
        (ack-purge.lua:21-23) — Parquet analog: directory removal."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        gap0 = next(m for m in marks if (m.tag, m.part_start) == ("GapTag", 0))
        purge_ack(store, gap0.purge_id, now_ms=T0 + 2_000)
        assert not os.path.exists(
            f"{store.config.hot_path}/tag=GapTag/part_start=0"
        )
        assert os.path.exists(
            f"{store.config.hot_path}/tag=GapTag/part_start=10"
        )
        # read_index no longer lists the vanished partition.
        parts = {
            (r.tag, r.part_start)
            for r in store.read_index({"GapTag": (0, 100)}).collect()
        }
        assert ("GapTag", 0) not in parts

    def test_ack_is_idempotent(self, store):
        """Second ack and unknown ids return False (ack-purge.lua:7-8)."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        pid = marks[0].purge_id
        assert purge_ack(store, pid, now_ms=T0 + 2_000) is True
        assert purge_ack(store, pid, now_ms=T0 + 3_000) is False
        assert purge_ack(store, "nonexistent", now_ms=T0 + 3_000) is False

    def test_write_after_mark_survives_ack(self, store):
        """FIXTURES.md §3 step 4 (test/consumer-test.js:936-989): data
        written between mark and ack is NOT evicted."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        gap0 = next(m for m in marks if (m.tag, m.part_start) == ("GapTag", 0))
        store.write([("GapTag", 2, "NewTwo")], ingest_ts=T0 + 2_000)
        assert purge_ack(store, gap0.purge_id, now_ms=T0 + 3_000) is True

        hot_only = _read_all(store)
        assert hot_only.get(("GapTag", 2)) == "NewTwo"
        assert ("GapTag", 1) not in hot_only
        # hot ∪ cold: LWW still favors NewTwo over the evicted "Two".
        full = _read_all(store, include_cold=True)
        assert full.get(("GapTag", 2)) == "NewTwo"
        assert full.get(("GapTag", 1)) == "One"


class TestSizeTrigger:
    def test_oversized_fresh_partition_marked(self, store):
        """P10 memory-pressure analog: a partition at/over the row
        trigger is eligible even with zero idle time."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        # Nothing is idle (threshold 1h), so without the trigger: no-op.
        assert purge_scan(store, 3600, 10, now_ms=T0 + 1) == []
        # SerialTag-0 holds 4 rows -> trips a >=4-row trigger.
        marks = purge_scan(
            store, 3600, 10, now_ms=T0 + 1, size_trigger_rows=4
        )
        assert {(m.tag, m.part_start) for m in marks} == {("SerialTag", 0)}


class TestBatchAck:
    def test_ack_many_all_at_once(self, store):
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        result = purge_ack_many(
            store, [m.purge_id for m in marks], now_ms=T0 + 2_000
        )
        assert all(result.values())
        assert _read_all(store) == {}  # everything evicted from hot
        assert _read_all(store, include_cold=True) == {
            (t, ts): v for t, ts, v in GAP_SERIAL
        }
        # Batch re-ack: every id now reports False (idempotency).
        again = purge_ack_many(
            store, [m.purge_id for m in marks] + ["nonexistent"],
            now_ms=T0 + 3_000,
        )
        assert not any(again.values())

    def test_ack_many_dedupes_repeated_ids(self, store):
        """A purge id repeated in one batch acks once: one 'acked' log
        row, not two, and the call still reports True for the id."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 1, now_ms=T0 + 1_000)
        pid = marks[0].purge_id
        result = purge_ack_many(store, [pid, pid, pid], now_ms=T0 + 2_000)
        assert result == {pid: True}
        from pyspark.sql import functions as F

        acked_rows = (
            purge_log(store)
            .where((F.col("purge_id") == pid) & (F.col("status") == "acked"))
            .count()
        )
        assert acked_rows == 1

    def test_ack_collect_bounded_under_bloated_log(self, store):
        """The driver-side collect in purge_ack_many must stay at one
        row per requested id even when the append-only log has
        accumulated duplicate rows (repeated appends between
        compactions): the log is aggregated by purge_id BEFORE
        collecting, so log bloat cannot grow driver memory."""
        from redis_lsm_timeseries_spark.tiering import _append_log

        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 1, now_ms=T0 + 1_000)
        m = marks[0]
        # Bloat: re-append the same 'marked' row 25 times.
        _append_log(
            store,
            [
                (m.purge_id, m.tag, m.part_start, "marked", T0 + 1_000, m.n_rows)
                for _ in range(25)
            ],
        )
        result = purge_ack_many(store, [m.purge_id], now_ms=T0 + 2_000)
        assert result == {m.purge_id: True}
        # Idempotency survives the bloat too.
        again = purge_ack_many(store, [m.purge_id], now_ms=T0 + 3_000)
        assert again == {m.purge_id: False}

    def test_ack_many_rejects_oversized_batches(self, store):
        """max_ids mirrors purge_scan's K: the ack map, delete
        predicate, and collect are O(len(purge_ids)), so the request
        list itself is capped."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        with pytest.raises(ValueError, match="max_ids"):
            purge_ack_many(
                store, [f"pid{i}" for i in range(11)], now_ms=T0, max_ids=10
            )


class TestCompaction:
    def test_compact_keeps_lww_winners_only(self, store):
        """recipe:43 'keep only latest': physical dedup, reads
        unchanged."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        store.write(
            [("GapTag", 2, "NewTwo"), ("SerialTag", 3, "NewThree")],
            ingest_ts=T0 + 1_000,
        )
        before = _read_all(store)
        assert before[("GapTag", 2)] == "NewTwo"
        assert store.hot().count() == len(GAP_SERIAL) + 2

        metrics = compact(store)
        assert metrics.partitions_compacted == 2  # GapTag-0, SerialTag-0
        # GapTag-0 holds {1, 2, 2'} = 3 members, SerialTag-0 holds
        # {1, 2, 3, 3', 4} = 5; winners are 2 + 4.
        assert metrics.rows_before == 8
        assert metrics.rows_after == 6

        assert _read_all(store) == before  # reads identical
        assert store.hot().count() == len(GAP_SERIAL)  # duplicates gone
        # Second compaction is a no-op.
        assert compact(store).partitions_compacted == 0

    def test_compact_bounded_to_k_dirtiest_partitions(self, store):
        """``max_partitions`` caps one run to the K partitions with the
        most superseded rows (purge_scan's coldest-K pattern): at 100 TB
        a single run must not rewrite every dirty partition, and the
        target selection is a broadcast semi-join — never a literal
        OR-chain that grows the plan with the dirty-partition count."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        # SerialTag-0 gets 2 superseded rows, GapTag-0 gets 1.
        store.write(
            [("SerialTag", 3, "N3"), ("SerialTag", 4, "N4")],
            ingest_ts=T0 + 1_000,
        )
        store.write([("GapTag", 2, "NewTwo")], ingest_ts=T0 + 2_000)
        before = _read_all(store)

        m1 = compact(store, max_partitions=1)
        assert m1.partitions_compacted == 1
        assert m1.rows_before - m1.rows_after == 2  # dirtiest first
        assert _read_all(store) == before
        # GapTag-0's duplicate survives until the next run.
        assert store.hot().count() == len(GAP_SERIAL) + 1

        m2 = compact(store, max_partitions=1)
        assert m2.partitions_compacted == 1
        assert m2.rows_before - m2.rows_after == 1
        assert store.hot().count() == len(GAP_SERIAL)
        assert _read_all(store) == before
        assert compact(store, max_partitions=1).partitions_compacted == 0

    def test_compact_keeps_tombstones(self, store):
        """A NULL-value tombstone must survive compaction: it still
        shadows older cold members on hot-union-cold reads."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        store.write([("GapTag", 2, None)], ingest_ts=T0 + 1_000)
        compact(store)
        assert ("GapTag", 2) not in _read_all(store)
        raw = store.hot().where("tag = 'GapTag' AND ts = 2").collect()
        assert len(raw) == 1 and raw[0].value is None


class TestMaintenanceLease:
    """Multi-writer ack atomicity (VERDICT #3): maintenance jobs are
    serialized by an enforced namespace lease, not a convention."""

    @staticmethod
    def _other_writer(store):
        from redis_lsm_timeseries_spark.store import TimeseriesStore

        other = TimeseriesStore(
            store.spark, store.config, commit=type(store.commit)()
        )
        other.initialize()
        return other

    def test_concurrent_maintenance_rejected(self, store):
        store.write(GAP_SERIAL, ingest_ts=T0)
        other = self._other_writer(store)
        # Real-clock lease: purge_scan's own acquisition checks expiry
        # against the real clock, so the held lease must be live in it.
        with maintenance_lease(other):
            with pytest.raises(ConcurrentMaintenanceError):
                purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        # Released on exit: the same call now proceeds.
        assert purge_scan(store, 0, 10, now_ms=T0 + 1_000)

    def test_stale_lease_is_stolen(self, store):
        """A lease past its TTL belongs to a crashed job — steal it."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        import json

        store.fs.write_text(
            f"{store.config.base_path}/{LEASE_FILE}",
            json.dumps({"holder": "dead-writer", "expires_ms": T0 - 1}),
        )
        assert purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        # The steal's lease was released after the scan.
        assert not store.fs.exists(f"{store.config.base_path}/{LEASE_FILE}")

    def test_reentrant_for_nested_maintenance(self, store):
        """compact() calls compact_purge_log() under one lease; an
        explicit outer lease must also nest."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        store.write([("GapTag", 2, "NewTwo")], ingest_ts=T0 + 1)
        with maintenance_lease(store):
            assert compact(store).partitions_compacted == 1
        assert not store.fs.exists(f"{store.config.base_path}/{LEASE_FILE}")

    def test_own_crashed_lease_reacquired(self, store):
        """A lease left by a crashed run of the SAME writer id must not
        deadlock its restart, even before the TTL expires."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        import json

        store.fs.write_text(
            f"{store.config.base_path}/{LEASE_FILE}",
            json.dumps(
                {"holder": store.writer_id, "expires_ms": T0 + 10**9}
            ),
        )
        assert purge_scan(store, 0, 10, now_ms=T0 + 1_000)


class TestPurgeLogCompaction:
    @staticmethod
    def _log_files(store) -> int:
        path = store.config.purge_log_path
        return sum(
            1
            for _root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    def test_log_collapses_to_one_file_content_preserved(self, store):
        """VERDICT #7: N mark/ack cycles leave N log files; compaction
        must collapse them without losing protocol state."""
        from redis_lsm_timeseries_spark.commit import ManifestCommit

        if isinstance(store.commit, ManifestCommit):
            # default vacuum retention keeps retained-version files on
            # disk (reader margin / time travel); this test asserts
            # PHYSICAL collapse, so shrink the horizon to the live
            # snapshot only
            store.commit.KEEP_LOG_ENTRIES = 1
            store.commit.VACUUM_GRACE_S = 0
        store.write(GAP_SERIAL, ingest_ts=T0)
        # Simulate 60 maintenance cycles' worth of appends directly
        # (each _append_log is one commit = one file, same as a cycle).
        for i in range(60):
            _append_log(store, [(f"id-{i}", "GapTag", 0, "marked", T0 + i, 2)])
        assert self._log_files(store) >= 60
        before = {
            (r.purge_id, r.status) for r in purge_log(store).collect()
        }

        replaced = compact_purge_log(store)
        assert replaced >= 60
        assert self._log_files(store) == 1
        after = {(r.purge_id, r.status) for r in purge_log(store).collect()}
        assert after == before
        # Nothing left to do — and no temp/old dirs on disk.
        assert compact_purge_log(store) == 0
        path = store.config.purge_log_path
        assert not os.path.exists(path + ".compact-tmp")
        assert not os.path.exists(path + ".compact-old")

    def test_protocol_semantics_survive_compaction(self, store):
        """Idempotency decisions read from the compacted log: an acked
        id stays acked, an open mark still acks."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        first, rest = marks[0], marks[1:]
        assert purge_ack(store, first.purge_id) is True
        compact_purge_log(store)
        assert purge_ack(store, first.purge_id) is False  # still acked
        result = purge_ack_many(store, [m.purge_id for m in rest])
        assert all(result.values())

    def test_reader_falls_back_to_old_copy_mid_swap(self, store):
        """Crash between the two renames: live dir absent, .compact-old
        present — purge_log must still see every row. (Parquet-backend
        crash shape only: the manifest backend has no rename swap — its
        atomic-commit equivalents live in test_commit_manifest.py.)"""
        if isinstance(store.commit, ManifestCommit):
            pytest.skip("no rename-swap window under ManifestCommit")
        store.write(GAP_SERIAL, ingest_ts=T0)
        _append_log(store, [("id-x", "GapTag", 0, "marked", T0, 2)])
        path = store.config.purge_log_path
        os.rename(path, path + ".compact-old")
        assert purge_log(store).where("purge_id = 'id-x'").count() == 1


class TestPurgePayload:
    def test_payload_round_trip(self, store):
        """parsePurgePayload equivalent (test/consumer-test.js:1081-1131)."""
        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        gap0 = next(m for m in marks if (m.tag, m.part_start) == ("GapTag", 0))
        rows = {
            (r.tag, r.ts): r.value
            for r in purge_payload(store, gap0.purge_id).collect()
        }
        assert rows == {("GapTag", 1): "One", ("GapTag", 2): "Two"}
        assert gap0.n_rows == 2


class TestCommitSeam:
    """The atomic-commit seam (commit.py): maintenance jobs route every
    transactional table operation through store.commit, so a lakehouse
    TableCommit drops in without touching tiering logic."""

    @pytest.mark.parametrize("on_spark", [True, False], ids=["spark", "driver"])
    def test_custom_commit_receives_every_operation(self, spark, tmp_path, on_spark):
        """At the default cap and at 0 (one-partition batches) the
        lease, the log append, partition drops and the log rewrite
        route through the seam. A partially evicted hot partition is
        rewritten as a new file, never through ``overwrite_partitions``,
        because the hot tier is always a plain directory layout (as
        ``flush_l0``'s fold)."""
        from unittest import mock

        from redis_lsm_timeseries_spark import store as store_module
        from redis_lsm_timeseries_spark.commit import ParquetLeaseCommit
        from redis_lsm_timeseries_spark.config import EngineConfig
        from redis_lsm_timeseries_spark.store import TimeseriesStore

        calls = []

        class Recording(ParquetLeaseCommit):
            def maintenance_lock(self, store, **kw):
                calls.append("lock")
                return super().maintenance_lock(store, **kw)

            def append_rows(self, store, rows, schema, path):
                calls.append("append")
                super().append_rows(store, rows, schema, path)

            def overwrite_partitions(self, store, df, path, cols):
                calls.append("overwrite")
                super().overwrite_partitions(store, df, path, cols)

            def drop_partition_dir(self, store, path):
                calls.append("drop")
                super().drop_partition_dir(store, path)

            def snapshot_rewrite(self, store, path, write_snapshot):
                calls.append("rewrite")
                super().snapshot_rewrite(store, path, write_snapshot)

        cap = 0 if on_spark else store_module.MAX_DRIVER_READ_BYTES
        with mock.patch.object(store_module, "MAX_DRIVER_READ_BYTES", cap):
            cfg = EngineConfig(root=str(tmp_path / "seam"), partition_width=5)
            s = TimeseriesStore(spark, cfg, commit=Recording())
            s.initialize()
            s.write(GAP_SERIAL, ingest_ts=T0)
            marks = purge_scan(s, 0, 10, now_ms=T0 + 1_000)
            assert marks
            assert "lock" in calls and "append" in calls
            # ack a fully-evicted partition -> drop; write survivors first
            # so another partition keeps rows -> overwrite
            s.write([("GapTag", 11, "Eleven")], ingest_ts=T0 + 2_000)
            acked = purge_ack_many(s, [m.purge_id for m in marks])
            assert all(acked.values())
            assert "drop" in calls and "overwrite" not in calls
            # force a multi-file protocol log, then compaction -> rewrite
            _append_log(s, [("x1", "GapTag", 0, "marked", T0, 1)])
            compact_purge_log(s)
            assert "rewrite" in calls
        # behavior through the seam identical to the default: the
        # surviving post-mark write is still readable
        vals = {
            (r.tag, r.ts): r.value
            for r in s.read_range({"GapTag": (0, 100)}).collect()
        }
        assert vals[("GapTag", 11)] == "Eleven"


class TestRetention:
    """apply_retention = drop_chunks: partition-granular hard delete."""

    def test_exact_semantics(self, store):
        """W=5 corpus spans partitions 0/10/20 (GapTag) and 0
        (SerialTag); cutoff 12 drops only partitions wholly before it
        (part_start + W <= 12 -> the two part-0s; part 10 straddles
        and is kept in full)."""
        from redis_lsm_timeseries_spark.tiering import apply_retention

        store.write(GAP_SERIAL, ingest_ts=T0)
        m = apply_retention(store, older_than_ms=12)
        assert m.partitions_dropped == 2  # GapTag-0, SerialTag-0
        assert m.rows_dropped == 6  # ts 1,2 (Gap) + 1,2,3,4 (Serial)
        left = _read_all(store)
        assert set(left) == {("GapTag", 10), ("GapTag", 20)}
        # idempotent
        m2 = apply_retention(store, older_than_ms=12)
        assert m2.partitions_dropped == 0 and m2.rows_dropped == 0

    def test_l0_folded_before_sweep(self, store):
        from redis_lsm_timeseries_spark.tiering import apply_retention

        store.write([("T", 1, "old")], ingest_ts=T0)  # lands in L0
        m = apply_retention(store, older_than_ms=100)
        assert m.partitions_dropped == 1 and m.rows_dropped == 1
        assert _read_all_tag(store, "T") == {}

    def test_cold_retention_optional(self, store):
        from redis_lsm_timeseries_spark.tiering import (
            apply_retention,
            purge_ack_many,
            purge_scan,
        )

        store.write(GAP_SERIAL, ingest_ts=T0)
        marks = purge_scan(store, 0, 10, now_ms=T0 + 1_000)
        purge_ack_many(store, [m.purge_id for m in marks])
        # data now lives in cold; hot sweep alone keeps the archive
        apply_retention(store, older_than_ms=1_000)
        cold_before = store.cold().count()
        assert cold_before > 0
        apply_retention(store, older_than_ms=1_000, drop_cold=True)
        assert store.cold().count() == 0

    def test_interplay_with_unacked_mark(self, store):
        """Retention removing a marked-but-unacked partition: the later
        ack finds nothing to delete and still completes idempotently."""
        from redis_lsm_timeseries_spark.tiering import (
            apply_retention,
            purge_ack_many,
            purge_scan,
        )

        store.write([("R", 1, "a"), ("R", 50, "b")], ingest_ts=T0)
        marks = purge_scan(store, 0, 1, now_ms=T0 + 1_000)
        assert len(marks) == 1
        apply_retention(store, older_than_ms=10_000)
        acked = purge_ack_many(store, [m.purge_id for m in marks])
        assert acked[marks[0].purge_id] is True


def _read_all_tag(store, tag):
    df = store.read_range({tag: (0, 1_000_000)})
    return {(r.tag, r.ts): r.value for r in df.collect()}


def test_retention_cap_bounds_one_run(spark, store):
    from redis_lsm_timeseries_spark.tiering import apply_retention

    store.write(
        [("C", t, f"v{t}") for t in (1, 11, 21, 31)], ingest_ts=T0
    )  # four W=5 partitions: 0, 10, 20, 30
    m = apply_retention(store, older_than_ms=1_000, max_partitions=2)
    assert m.partitions_dropped == 2  # oldest first: parts 0 and 10
    left = {
        r.ts for r in store.read_range({"C": (0, 100)}).collect()
    }
    assert left == {21, 31}
    m2 = apply_retention(store, older_than_ms=1_000, max_partitions=2)
    assert m2.partitions_dropped == 2
    assert store.read_range({"C": (0, 100)}).count() == 0
