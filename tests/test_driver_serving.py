"""The driver-side serving path: ``write()`` lands its L0 segment with
pyarrow, published by rename; ``flush_l0`` folds L0 into L1 with
pyarrow too; and a range read that overlaps a concurrent ``flush_l0``,
or follows one that crashed at any point, still sees every row, on
both read paths."""

from __future__ import annotations

import os

import pytest

from redis_lsm_timeseries_spark import store as store_module
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.store import TimeseriesStore
from store_helpers import MUTATING, Crash, CrashAtCall


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _store(spark, root, fs=None) -> TimeseriesStore:
    s = TimeseriesStore(spark, EngineConfig(root=str(root), partition_width=10), fs=fs)
    s.initialize()
    return s


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _members(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


class _CrashAtRename(StorageFilesystem):
    def rename(self, src, dst):
        if src.endswith(".inprogress"):
            raise Crash(src)
        super().rename(src, dst)


class _FailAtRename(StorageFilesystem):
    def rename(self, src, dst):
        raise OSError(f"injected rename failure: {src}")


class _RmdirAfterMakedirs(StorageFilesystem):
    """Removes ``path`` right after its first ``makedirs``, as
    ``flush_l0``'s ``rmdir_if_empty`` can between a write's makedirs
    and its file write."""

    def __init__(self):
        self.path = None

    def makedirs(self, path):
        super().makedirs(path)
        if path == self.path:
            self.path = None
            self.rmdir_if_empty(path)


class _FlushWhenProbed(StorageFilesystem):
    """Runs a second store's ``flush_l0`` the first time the reader
    probes ``path``: a flush landing in the middle of a read."""

    def __init__(self):
        self.path = None
        self.flusher = None

    def exists(self, path):
        if path == self.path and self.flusher is not None:
            flusher, self.flusher = self.flusher, None
            flusher.flush_l0()
        return super().exists(path)


def test_write_starts_no_job_and_lands_one_segment(spark, tmp_path):
    s = _store(spark, tmp_path / "engine")
    j0 = _next_job_id(spark)
    metrics = s.write([("a", 1, "x"), ("a", 12, None), ("b", 3, "y")])
    assert _next_job_id(spark) - j0 == 0
    assert (metrics.rows_written, metrics.partitions_touched) == (3, 3)
    names = os.listdir(s.config.l0_path)
    assert len(names) == 1 and names[0].startswith("part-")
    assert names[0].endswith(".snappy.parquet")
    assert _rows(s.read_range({"a": (0, 20), "b": (0, 5)})) == [("a", 1, "x"), ("b", 3, "y")]


def test_write_interrupted_at_the_rename_leaves_no_segment(spark, tmp_path, monkeypatch):
    fs = _CrashAtRename()
    s = _store(spark, tmp_path / "engine")
    s.write([("t", 1, "a")])
    s.flush_l0()
    s.fs = fs
    with pytest.raises(Crash):
        s.write([("t", 2, "b")])
    names = os.listdir(s.config.l0_path)
    assert len(names) == 1 and names[0].startswith(".part-")
    assert names[0].endswith(".inprogress")
    assert _rows(s.read_range({"t": (0, 9)})) == [("t", 1, "a")]
    monkeypatch.setattr(store_module, "MAX_DRIVER_READ_BYTES", 0)
    assert _rows(s.read_range({"t": (0, 9)})) == [("t", 1, "a")]
    assert _rows(s.read_all()) == [("t", 1, "a")]
    assert s.flush_l0() is False
    assert os.listdir(s.config.l0_path) == names


def test_write_recreates_an_l0_dir_a_flush_removed(spark, tmp_path):
    fs = _RmdirAfterMakedirs()
    s = _store(spark, tmp_path / "engine", fs=fs)
    fs.path = s.config.l0_path
    s.write([("t", 1, "a")])
    assert fs.path is None  # the removal ran
    assert _rows(s.read_range({"t": (0, 9)})) == [("t", 1, "a")]


def test_append_rows_publishes_by_rename_and_raises_io_errors(spark, tmp_path):
    s = _store(spark, tmp_path / "engine")
    path = str(tmp_path / "log")
    schema = "id string, n long"
    s.commit.append_rows(s, [("a", 1), ("b", 2)], schema, path)
    names = os.listdir(path)
    assert len(names) == 1 and names[0].startswith("part-")
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [("a", 1), ("b", 2)]
    s.fs = _FailAtRename()
    with pytest.raises(OSError, match="injected rename failure"):
        s.commit.append_rows(s, [("c", 3)], schema, path)
    assert os.listdir(path) == names


@pytest.mark.parametrize("how", ["driver", "spark", "read_all"])
def test_read_overlapping_a_flush_sees_every_row(spark, tmp_path, how, monkeypatch):
    """A flush that moves L0 rows into L1 while a read lists the hot
    tier: listing L1 before L0 lost the moved rows. The ``spark`` read
    is a Spark plan with no driver attempt before it, so its own listing
    makes the first L0 probe."""
    fs = _FlushWhenProbed()
    reader = _store(spark, tmp_path / "engine", fs=fs)
    reader.write_df(spark.createDataFrame([("t", 5, "old")], "tag string, ts long, value string"))
    reader.write([("t", 15, "a"), ("t", 25, "b"), ("t", 35, "c")])
    fs.path, fs.flusher = reader.config.l0_path, _store(spark, tmp_path / "engine")
    if how == "driver":
        df = reader.read_range({"t": (0, 40)})
        assert "LocalTableScan" in _plan(df)
    elif how == "spark":
        monkeypatch.setattr(
            store_module.TimeseriesStore, "_read_range_on_driver", lambda *args: None
        )
        df = reader.read_range({"t": (0, 40)}, include_cold=True)
        assert "FileScan parquet" in _plan(df)
    else:
        df = reader.read_all()
    assert fs.flusher is None  # the flush ran inside the read
    assert _rows(df) == [("t", 5, "old"), ("t", 15, "a"), ("t", 25, "b"), ("t", 35, "c")]


def test_driver_read_replans_when_a_listed_segment_moves(spark, tmp_path):
    """The flush lands after the L0 segment was listed, before it is
    read: the driver read re-plans instead of failing."""
    fs = _FlushWhenProbed()
    reader = _store(spark, tmp_path / "engine", fs=fs)
    reader.write_df(spark.createDataFrame([("t", 5, "old")], "tag string, ts long, value string"))
    reader.write([("t", 15, "a"), ("t", 25, "b")])
    fs.path = f"{reader.config.hot_path}/tag=t"
    fs.flusher = _store(spark, tmp_path / "engine")
    df = reader.read_range({"t": (0, 40)})
    assert fs.flusher is None
    assert "LocalTableScan" in _plan(df)
    assert _rows(df) == [("t", 5, "old"), ("t", 15, "a"), ("t", 25, "b")]


def test_flush_starts_no_job_and_folds_in_chunks(spark, tmp_path, monkeypatch):
    """A directory-mode flush runs on the driver. With the read cap
    small enough that every segment is a chunk of its own, it writes
    one file per chunk into a partition directory, and reads back the
    same members and rows as a one-chunk flush."""
    batches = [
        [("a", 1, f"v{k}"), ("a", 12, f"w{k}"), ("b:c", 3 + k, None if k == 1 else "x")]
        for k in range(3)
    ]

    def flushed(root, cap):
        s = _store(spark, root)
        s.writer_id = "w"
        for k, batch in enumerate(batches):
            s.write(batch, ingest_ts=100 + k)
        with monkeypatch.context() as m:
            if cap is not None:
                m.setattr(store_module, "MAX_DRIVER_READ_BYTES", cap)
            j0 = _next_job_id(spark)
            assert s.flush_l0() is True
            assert _next_job_id(spark) - j0 == 0
        return s

    one, many = flushed(tmp_path / "one", None), flushed(tmp_path / "many", 1)
    for s, n_files in ((one, 1), (many, 3)):
        part_dir = f"{s.config.hot_path}/tag=a/part_start=0"
        assert len(store_module._visible(os.listdir(part_dir))) == n_files
        assert not os.path.exists(s.config.l0_path)
    assert _members(one.hot()) == _members(many.hot())
    expected = [("a", 1, "v2"), ("a", 12, "w2"), ("b:c", 3, "x"), ("b:c", 5, "x")]
    assert _rows(one.read_all()) == _rows(many.read_all()) == expected


def test_flush_crashed_at_every_storage_call(spark, tmp_path, monkeypatch):
    """Crash-point sweep over ``flush_l0``: for every k, the flush dies
    at its k-th mutating storage call. A fresh store on the same root
    then reads, on every read path, exactly the rows from before the
    flush, no reader sees an ``.inprogress`` temp file, and a retried
    flush leaves an empty L0, no staging dir and the same rows."""
    ranges = {"a": (0, 40), "b:c": (0, 40)}
    expected = [("a", 1, "a1-newer"), ("a", 33, "a33"), ("b:c", 25, "b25")]

    def prepared(root):
        s = _store(spark, root)
        s.writer_id = "w"
        s.write([("a", 1, "a1"), ("a", 12, "a12"), ("b:c", 3, "b3")], ingest_ts=100)
        s.flush_l0()
        s.write([("a", 1, "a1-new"), ("b:c", 3, None), ("b:c", 25, "b25")], ingest_ts=200)
        s.write([("a", 12, None), ("a", 33, "a33"), ("a", 1, "a1-newer")], ingest_ts=300)
        return s

    dry = prepared(tmp_path / "dry")
    members = _members(dry.hot())
    assert len(members) == 9
    dry.fs = CrashAtCall()
    dry.flush_l0()
    assert set(dry.fs.ops) == set(MUTATING)
    for k in range(1, len(dry.fs.ops) + 1):
        s = prepared(tmp_path / f"k{k}")
        s.fs = CrashAtCall(crash_at=k)
        with pytest.raises(Crash):
            s.flush_l0()
        fresh = _store(spark, s.config.root)
        driver = fresh.read_range(ranges)
        assert "LocalTableScan" in _plan(driver)
        assert _rows(driver) == expected, k
        with monkeypatch.context() as m:
            m.setattr(store_module, "MAX_DRIVER_READ_BYTES", 0)
            spark_df = fresh.read_range(ranges)
            assert "FileScan parquet" in _plan(spark_df)
            assert _rows(spark_df) == expected, k
        hot = fresh.hot()
        assert _members(hot) == members, k
        assert not [f for f in hot.inputFiles() + spark_df.inputFiles() if ".inprogress" in f]
        assert _rows(fresh.read_all()) == expected, k

        s.fs = StorageFilesystem()  # the same writer restarts: its lease re-acquires
        s.flush_l0()
        l0, staging = s.config.l0_path, s.config.l0_staging_path
        assert not os.path.exists(l0) or not store_module._visible(os.listdir(l0)), k
        assert not os.path.exists(staging) or not os.listdir(staging), k
        assert _rows(fresh.read_range(ranges)) == expected, k
