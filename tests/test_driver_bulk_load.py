"""Bounded bulk loads on the driver: ``write_df`` collects a small
projection once and publishes it through ``flush_l0``'s L1 run writer,
and ``read_all`` reads the hot tier on the driver under the same rule.
Each is pinned against its Spark path (``MAX_DRIVER_READ_BYTES``
patched to 0), over copies of one store."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pytest

from redis_lsm_timeseries_spark import store as store_module
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.store import TimeseriesStore
from store_helpers import TAGS, WIDTH, Crash, CrashAtCall, build_layered


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _store(spark, root) -> TimeseriesStore:
    s = TimeseriesStore(spark, EngineConfig(root=str(root), partition_width=WIDTH))
    s.initialize()
    s.writer_id = "w"
    return s


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _members(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def _seeded(spark, root) -> TimeseriesStore:
    """Pre-load rows in L1 (a flushed write) and in L0."""
    s = _store(spark, root)
    s.write([(t, ts, f"old {t}@{ts}") for t in TAGS for ts in (-15, 4)], ingest_ts=100)
    s.flush_l0()
    s.write([(t, 4, f"l0 {t}") for t in TAGS], ingest_ts=200)
    return s


def _copy(spark, src: TimeseriesStore, root) -> TimeseriesStore:
    shutil.copytree(src.config.root, str(root))
    return _store(spark, root)


def _load(supplied: bool) -> pa.Table:
    """Every escaped tag over negative and positive ``ts``, tombstones,
    and a key loaded twice in the batch; with ``supplied``, the rows
    carry their own ``ingest_ts``/``writer_id``/``seq``."""
    rows = [(t, ts, None if ts == 4 else f"{t}@{ts}") for t in TAGS for ts in (-21, -15, 4, 33)]
    rows += [(t, 33, f"again {t}") for t in TAGS[:3]]
    cols = {
        "tag": [r[0] for r in rows],
        "ts": pa.array([r[1] for r in rows], pa.int64()),
        "value": pa.array([r[2] for r in rows], pa.string()),
    }
    if supplied:
        cols["ingest_ts"] = pa.array([900 + i % 2 for i in range(len(rows))], pa.int64())
        cols["writer_id"] = [f"bulk{i % 3}" for i in range(len(rows))]
        cols["seq"] = pa.array(range(len(rows)), pa.int64())
    return pa.table(cols)


def _crc_files(root: str) -> list[str]:
    return [n for _, _, names in os.walk(root) for n in names if n.endswith(".crc")]


@pytest.mark.parametrize("supplied", [False, True], ids=["defaulted", "supplied"])
@pytest.mark.parametrize("cluster", [True, False], ids=["clustered", "unclustered"])
def test_driver_load_matches_the_spark_load(spark, tmp_path, monkeypatch, supplied, cluster):
    seed = _seeded(spark, tmp_path / "seed")
    driver = _copy(spark, seed, tmp_path / "driver")
    on_spark = _copy(spark, seed, tmp_path / "spark")
    load = spark.createDataFrame(_load(supplied))

    j0 = _next_job_id(spark)
    driver.write_df(load, ingest_ts=700, cluster_by_partition=cluster)
    driver_jobs = _next_job_id(spark) - j0
    with monkeypatch.context() as m:
        m.setattr(store_module, "MAX_DRIVER_READ_BYTES", 0)
        j0 = _next_job_id(spark)
        on_spark.write_df(load, ingest_ts=700, cluster_by_partition=cluster)
        spark_jobs = _next_job_id(spark) - j0

    # a local-relation input: its rows are on the driver already, so the
    # load starts no job at all (no collect job, no repartition stage,
    # no write job)
    assert driver_jobs == 0
    assert spark_jobs >= 1
    assert not _crc_files(driver.config.hot_path)
    assert _crc_files(on_spark.config.hot_path)  # Hadoop's writer made these

    assert _members(driver.hot()) == _members(on_spark.hot())
    assert len(_members(driver.hot())) == 3 * len(TAGS) + len(_load(supplied))
    assert _rows(driver.read_all(with_tombstones=True)) == _rows(
        on_spark.read_all(with_tombstones=True)
    )


def test_driver_load_writes_one_file_per_run(spark, tmp_path):
    s = _store(spark, tmp_path / "engine")
    s.write_df(spark.createDataFrame(_load(False)), ingest_ts=700)
    runs = {(t, ts - ts % WIDTH) for t in TAGS for ts in (-21, -15, 4, 33)}
    files = {
        key: os.listdir(store_module.partition_dir(s.config.hot_path, *key))
        for key in runs
    }
    assert all(len(names) == 1 and names[0].startswith("part-") for names in files.values())
    assert len(os.listdir(s.config.hot_path)) == len(TAGS) + 1  # the tag dirs, _SUCCESS


def test_flush_and_bulk_load_share_the_run_writer(spark, tmp_path, monkeypatch):
    calls = []
    real = TimeseriesStore._publish_l1_runs

    def spy(self, tables):
        calls.append(1)
        return real(self, tables)

    monkeypatch.setattr(TimeseriesStore, "_publish_l1_runs", spy)
    s = _store(spark, tmp_path / "engine")
    s.write([("a", 1, "x")])
    s.flush_l0()
    s.write_df(spark.createDataFrame(_load(False)))
    assert len(calls) == 2


def test_unknown_size_input_keeps_the_spark_write(spark, tmp_path, monkeypatch):
    """A ``createDataFrame(list)`` input is RDD-backed and reports no
    size, so the load stays a Spark write."""
    monkeypatch.setattr(
        TimeseriesStore, "_collect_load", lambda self, out: pytest.fail("collected on the driver")
    )
    s = _store(spark, tmp_path / "engine")
    s.write_df(spark.createDataFrame([("a", 1, "x")], "tag string, ts long, value string"))
    assert _rows(s.read_all()) == [("a", 1, "x")]
    assert _crc_files(s.config.hot_path)


@pytest.mark.parametrize("bad", [(None, 1, "n"), ("b", None, "y"), ("", 3, "e")],
                         ids=["null-tag", "null-ts", "empty-tag"])
@pytest.mark.parametrize("path", ["driver", "spark"])
def test_bad_key_refused_with_nothing_written(spark, tmp_path, monkeypatch, path, bad):
    """A null or empty ``tag``, or a null ``ts``, fails the load on
    either path: nothing lands in L1, and the lease is free."""
    s = _seeded(spark, tmp_path / "engine")
    before = _members(s.hot())
    rows = [("a", 2, "x"), bad]
    if path == "driver":
        load = spark.createDataFrame(
            pa.table({
                "tag": pa.array([r[0] for r in rows], pa.string()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "value": pa.array([r[2] for r in rows], pa.string()),
            })
        )
        j0 = _next_job_id(spark)
        with pytest.raises(ValidationError, match="non-empty tag and a non-null ts"):
            s.write_df(load)
        assert _next_job_id(spark) - j0 == 0  # a local relation collects with no job
    else:
        schema = "tag string, ts long, value string"
        j0 = _next_job_id(spark)
        s.write_df(spark.createDataFrame([("a", 2, "x"), ("c", 3, "z")], schema))
        good_jobs = _next_job_id(spark) - j0
        before = _members(s.hot())
        j0 = _next_job_id(spark)
        with pytest.raises(Exception, match="non-empty tag and a non-null ts"):
            s.write_df(spark.createDataFrame(rows, schema))
        assert _next_job_id(spark) - j0 <= good_jobs  # the write job failed; no guard job
    fresh = _store(spark, s.config.root)
    fresh.writer_id = "other"
    assert _members(fresh.hot()) == before
    assert not [n for n in os.listdir(s.config.hot_path) if "HIVE_DEFAULT" in n]
    with fresh.commit.maintenance_lock(fresh):
        pass


def test_driver_load_crashed_at_every_storage_call(spark, tmp_path):
    """Crash-point sweep over the driver load: for every k, the load
    dies at its k-th mutating storage call. A fresh store on the same
    root then reads the pre-load members plus whole ``(tag,
    part_start)`` runs of the load, never part of one; the same writer's
    retry reads as the uncrashed load, and leaves the lease free."""
    load = spark.createDataFrame(_load(False))

    dry = _seeded(spark, tmp_path / "dry")
    before = _members(dry.hot())
    dry.fs = CrashAtCall()
    dry.write_df(load, ingest_ts=700)
    assert {"makedirs", "rename", "write_text", "remove_file"} <= set(dry.fs.ops)
    loaded = _members(dry.hot()) - before
    runs: dict[tuple, set] = {}
    for m in loaded:
        runs.setdefault((m[0], m[6]), set()).add(m)
    assert len(runs) == len(TAGS) * 4
    expected = _rows(dry.read_all(with_tombstones=True))

    for k in range(1, len(dry.fs.ops) + 1):
        s = _seeded(spark, tmp_path / f"k{k}")
        s.fs = CrashAtCall(crash_at=k)
        with pytest.raises(Crash):
            s.write_df(load, ingest_ts=700)
        fresh = _store(spark, s.config.root)
        got = _members(fresh.hot())
        new = got - before
        assert before <= got and new <= loaded, k
        for key in {(m[0], m[6]) for m in new}:
            assert runs[key] <= new, (k, key)

        s.fs = StorageFilesystem()  # the same writer restarts: its lease re-acquires
        s.write_df(load, ingest_ts=700)
        assert _rows(fresh.read_all(with_tombstones=True)) == expected, k
        fresh.writer_id = "other"
        with fresh.commit.maintenance_lock(fresh):
            pass


@pytest.mark.parametrize("with_tombstones", [False, True], ids=["live", "tombstones"])
def test_hot_read_all_on_driver_matches_spark(spark, tmp_path, monkeypatch, with_tombstones):
    """``read_all`` of the hot tier alone, over L1, L0 and a crashed
    flush's staging dir: a local relation that starts no job, equal to
    the Spark plan's rows."""
    s = build_layered(spark, tmp_path / "layered")
    j0 = _next_job_id(spark)
    driver = s.read_all(with_tombstones=with_tombstones)
    driver_rows = _rows(driver)
    assert _next_job_id(spark) - j0 == 0
    assert driver.isLocal()
    monkeypatch.setattr(store_module, "MAX_DRIVER_READ_BYTES", 0)
    on_spark = s.read_all(with_tombstones=with_tombstones)
    assert not on_spark.isLocal()
    assert driver_rows == _rows(on_spark)
    assert any(v is None for _, _, v in driver_rows) == with_tombstones
