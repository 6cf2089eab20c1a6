"""The driver-side serving path: ``write()`` lands its L0 segment with
pyarrow, published by rename, and a range read that overlaps a
concurrent ``flush_l0`` still sees every row, on both read paths."""

from __future__ import annotations

import os

import pytest

from redis_lsm_timeseries_spark import store as store_module
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.store import TimeseriesStore


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


class _Crash(BaseException):
    """A process dying mid-call: no ``except Exception`` cleanup runs."""


class _CrashAtRename(StorageFilesystem):
    def rename(self, src, dst):
        if src.endswith(".inprogress"):
            raise _Crash(src)
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
    with pytest.raises(_Crash):
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
def test_read_overlapping_a_flush_sees_every_row(spark, tmp_path, how):
    """A flush that moves L0 rows into L1 while a read lists the hot
    tier: listing L1 before L0 lost the moved rows."""
    fs = _FlushWhenProbed()
    reader = _store(spark, tmp_path / "engine", fs=fs)
    reader.write_df(spark.createDataFrame([("t", 5, "old")], "tag string, ts long, value string"))
    reader.write([("t", 15, "a"), ("t", 25, "b"), ("t", 35, "c")])
    fs.path, fs.flusher = reader.config.l0_path, _store(spark, tmp_path / "engine")
    if how == "driver":
        df = reader.read_range({"t": (0, 40)})
        assert "LocalTableScan" in _plan(df)
    elif how == "spark":
        df = reader.read_range({"t": (0, 40)}, include_cold=True)
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
