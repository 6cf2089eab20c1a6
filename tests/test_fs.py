"""StorageFilesystem seam (VERDICT #8): every side-channel metadata
operation the engine performs must route through the injected fs
object, so an object-storage deployment implements one class instead
of chasing os.path calls through the engine."""

from __future__ import annotations

import os

import pytest

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.store import TimeseriesStore
from redis_lsm_timeseries_spark.tiering import (
    compact,
    compact_purge_log,
    purge_ack_many,
    purge_scan,
)


class RecordingFS(StorageFilesystem):
    """Local behavior, but records every operation name."""

    def __init__(self):
        self.ops: set[str] = set()

    def __getattribute__(self, name):
        attr = super().__getattribute__(name)
        if name in StorageFilesystem.__dict__ and callable(attr):
            ops = super().__getattribute__("ops")

            def recorded(*args, **kwargs):
                ops.add(name)
                return attr(*args, **kwargs)

            return recorded
        return attr


@pytest.fixture()
def rec_store(spark, tmp_path):
    cfg = EngineConfig(root=str(tmp_path / "engine"), partition_width=5)
    fs = RecordingFS()
    s = TimeseriesStore(spark, cfg, fs=fs)
    s.initialize()
    return s, fs


class TestSeamRouting:
    def test_full_lifecycle_routes_through_injected_fs(self, rec_store):
        """A write/read/purge/compact cycle behaves identically with a
        custom fs, and every metadata-op category is exercised through
        it — nothing bypasses the seam."""
        store, fs = rec_store
        store.write([("A", 1, "a"), ("A", 2, "b"), ("B", 11, "c")], ingest_ts=1000)
        store.write([("A", 2, "b2")], ingest_ts=2000)
        assert {
            (r.tag, r.ts): r.value for r in store.read_all().collect()
        } == {("A", 1): "a", ("A", 2): "b2", ("B", 11): "c"}
        # read_all answers a small hot tier on the driver; the cached
        # Spark handle checks its layout token through the seam
        # (stat_signature)
        assert store.hot().count() == 4

        marks = purge_scan(store, 0, 10, now_ms=10_000)
        assert marks
        assert all(purge_ack_many(store, [m.purge_id for m in marks]).values())
        compact(store)
        compact_purge_log(store)
        assert store.read_all(include_cold=True).count() == 3
        # Re-open the namespace: the meta-JSON READ path goes through
        # the seam too (first initialize only writes it).
        reopened = TimeseriesStore(store.spark, store.config, fs=fs)
        assert reopened.initialize() == store._epoch

        assert {
            "exists",
            "makedirs",
            "listdir",
            "rename",
            "remove_tree",
            "read_text",
            "write_text",
            "stat_signature",
            "count_files_with_suffix",
        } <= fs.ops

    def test_default_fs_is_shared_local_instance(self, spark, tmp_path):
        cfg = EngineConfig(root=str(tmp_path / "engine"))
        a = TimeseriesStore(spark, cfg)
        b = TimeseriesStore(spark, cfg)
        assert a.fs is b.fs
        assert isinstance(a.fs, StorageFilesystem)


class TestLocalPrimitives:
    def test_stat_signature_none_when_absent(self, tmp_path):
        fs = StorageFilesystem()
        assert fs.stat_signature(str(tmp_path / "nope")) is None
        p = tmp_path / "f"
        p.write_text("x")
        sig = fs.stat_signature(str(p))
        assert sig is not None and len(sig) == 2

    def test_rmdir_if_empty(self, tmp_path):
        fs = StorageFilesystem()
        d = tmp_path / "d"
        d.mkdir()
        (d / "f").write_text("x")
        assert fs.rmdir_if_empty(str(d)) is False  # refuses: non-empty
        os.remove(d / "f")
        assert fs.rmdir_if_empty(str(d)) is True
        assert not d.exists()

    def test_count_files_with_suffix_recurses(self, tmp_path):
        fs = StorageFilesystem()
        (tmp_path / "sub").mkdir()
        (tmp_path / "a.parquet").write_text("")
        (tmp_path / "sub" / "b.parquet").write_text("")
        (tmp_path / "sub" / "c.crc").write_text("")
        assert fs.count_files_with_suffix(str(tmp_path), ".parquet") == 2

    def test_remove_tree_absent_is_noop(self, tmp_path):
        StorageFilesystem().remove_tree(str(tmp_path / "missing"))
