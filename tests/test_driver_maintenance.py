"""The maintenance steps' one data path at two read caps: the default
``MAX_DRIVER_READ_BYTES`` and 0, which batches ``purge_scan``'s
snapshot and the ack's eviction one partition at a time and runs
``compact``'s kernel in Spark tasks, on the directory backend and (the
purge and retention steps) on ``ManifestCommit``; eviction of
tombstones and of tags whose directory names Spark escapes; emptied
``tag=`` directories; and crash-point sweeps over the ack and
compaction at both caps."""

from __future__ import annotations

import os
import shutil
from collections import Counter
from contextlib import nullcontext
from unittest import mock

import pytest

from redis_lsm_timeseries_spark import store as store_module
from redis_lsm_timeseries_spark.commit import ManifestCommit
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.schema import SAMPLE_SCHEMA
from redis_lsm_timeseries_spark.store import TimeseriesStore
from redis_lsm_timeseries_spark.tiering import (
    apply_retention,
    cold_snapshots,
    compact,
    purge_ack,
    purge_ack_many,
    purge_log,
    purge_scan,
)
from store_helpers import TAGS, WIDTH, Crash, CrashAtCall, build_layered


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _open(spark, root, commit=None) -> TimeseriesStore:
    s = TimeseriesStore(spark, EngineConfig(root=str(root), partition_width=WIDTH), commit=commit)
    s.initialize()
    return s


def _copy(spark, src: TimeseriesStore, root, commit=None) -> TimeseriesStore:
    shutil.copytree(src.config.root, root)
    return _open(spark, root, commit)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _hot_members(s) -> Counter:
    return Counter(tuple(r) for r in s.hot().collect())


def _driver_hot_members(s) -> Counter:
    """``_hot_members`` through the driver-side member reader."""
    return Counter(tuple(r.values()) for r in s._driver_members(None)[1].to_pylist())


def _cold_members(s) -> Counter:
    """Cold snapshot rows without their ``purge_id``, in ``hot()``'s
    column order."""
    cols = [f.name for f in SAMPLE_SCHEMA.fields]
    return Counter(tuple(r) for r in cold_snapshots(s).select(*cols).collect())


def _log_rows(s) -> list[tuple]:
    return sorted(tuple(r)[1:] for r in purge_log(s).collect())


def _tag_dirs(s) -> list[str]:
    hot = s.config.hot_path
    return sorted(n for n in os.listdir(hot) if n.startswith("tag=")) if os.path.exists(hot) else []


def _path(capped: bool):
    """A driver read cap of 0: one-partition batches, and ``compact``'s
    kernel in Spark tasks."""
    return mock.patch.object(store_module, "MAX_DRIVER_READ_BYTES", 0) if capped else nullcontext()


def _run(spark, s, capped, fn, *args, **kw):
    """``fn`` at the default cap or at 0 (``_path``). On the directory
    backend only a capped ``compact`` starts Spark jobs (its tasks);
    ``ManifestCommit`` reads its purge log and cold tier through
    Spark."""
    with _path(capped):
        j0 = _next_job_id(spark)
        out = fn(s, *args, **kw)
        jobs = _next_job_id(spark) - j0
    on_spark = isinstance(s.commit, ManifestCommit) or (capped and fn is compact)
    assert (jobs > 0) if on_spark else (jobs == 0), (fn.__name__, jobs)
    return out


#: the ``(commit, capped)`` legs of the steps compared across backends:
#: the directory store at the default cap comes first
LEGS = [(None, False), (None, True), (ManifestCommit, False), (ManifestCommit, True)]


@pytest.fixture(scope="module")
def layered(spark, tmp_path_factory):
    return build_layered(spark, tmp_path_factory.mktemp("maint") / "layered")


class TestBothPathsAgree:
    """Each step on a copy of the ``layered`` store, once per cap (and,
    for the purge and retention, per backend — ``LEGS``): equal hot
    rows, cold snapshot rows (but for ``purge_id``), purge-log rows and
    returned marks or metrics."""

    def _purge(self, spark, layered, root, commit, capped):
        s = _copy(spark, layered, root, commit and commit())
        marks = _run(spark, s, capped, purge_scan, 0.0, 1000, now_ms=1000)
        # a write into the first marked partition after the mark survives
        s.writer_id = "late"
        s.write([(marks[0].tag, marks[0].part_start + 1, "late")], ingest_ts=2000)
        acked = _run(spark, s, capped, purge_ack_many, [m.purge_id for m in marks], now_ms=3000)
        with _path(capped):
            reack = purge_ack(s, marks[0].purge_id, now_ms=4000)
        return s, marks, acked, reack

    def test_purge_scan_ack_and_reack(self, spark, layered, tmp_path):
        runs = [
            self._purge(spark, layered, tmp_path / str(i), commit, capped)
            for i, (commit, capped) in enumerate(LEGS)
        ]
        driver, d_marks, _, _ = runs[0]
        key = [(m.tag, m.part_start, m.n_rows) for m in d_marks]
        # every partition, the ``tie`` ones and the tombstones included
        assert {t for t, _, _ in key} == {*TAGS, "tie"}
        late = ("a:b", -19, "late")
        assert [m[:3] for m in _hot_members(driver)] == [late]
        everything = sorted(_rows(layered.read_all()) + [late], key=repr)
        assert _rows(driver.read_all(include_cold=True)) == everything
        for (commit, capped), (s, marks, acked, reack) in zip(LEGS, runs):
            leg = (commit, capped)
            assert [(m.tag, m.part_start, m.n_rows) for m in marks] == key, leg
            assert list(acked.values()) == [True] * len(key), leg
            assert reack is False, leg
            assert _hot_members(s) == _hot_members(driver), leg
            assert _cold_members(s) == _cold_members(driver), leg
            assert _log_rows(s) == _log_rows(driver), leg
            # fully evicted partitions leave no directory, escaped tags too
            assert _tag_dirs(s) == ["tag=a%3Ab"], leg

    @pytest.mark.parametrize("max_partitions", [None, 3])
    def test_compact(self, spark, layered, tmp_path, max_partitions):
        stores, metrics = [], []
        for capped in (False, True):
            s = _copy(spark, layered, tmp_path / str(capped))
            metrics.append(_run(spark, s, capped, compact, max_partitions))
            stores.append(s)
        assert metrics[0] == metrics[1]
        assert metrics[0].rows_after < metrics[0].rows_before
        assert _hot_members(stores[0]) == _hot_members(stores[1])
        for s in stores:
            assert _rows(s.read_all(with_tombstones=True)) == _rows(layered.read_all(with_tombstones=True))
        if max_partitions is None:
            keys = Counter(m[:2] for m in _hot_members(stores[0]))
            assert max(keys.values()) == 1
            # tombstone winners are kept, as are the value-decided ties
            assert ("a:b", 0, None) in {m[:3] for m in _hot_members(stores[0])}

    def test_apply_retention(self, spark, layered, tmp_path):
        """Hot and cold partitions wholly before the cutoff go, tags
        whose directory names Spark escapes among them; ``tie`` lives
        in one partition and leaves no ``tag=`` directory."""
        stores, metrics = [], []
        for i, (commit, capped) in enumerate(LEGS):
            s = _copy(spark, layered, tmp_path / str(i), commit and commit())
            assert len(purge_scan(s, 0.0, 30, now_ms=1000)) == 30
            metrics.append(_run(spark, s, capped, apply_retention, older_than_ms=10, drop_cold=True))
            stores.append(s)
        assert metrics[0].partitions_dropped == 5 * len(TAGS) + 1
        driver = stores[0]
        assert min(m[6] for m in _hot_members(driver)) == 10
        assert min(m[6] for m in _cold_members(driver)) == 10
        kept = [r for r in _rows(layered.read_all()) if r[1] >= 10]
        assert _rows(driver.read_all(include_cold=True)) == kept
        for leg, s, m in zip(LEGS, stores, metrics):
            assert m == metrics[0], leg
            assert _hot_members(s) == _hot_members(driver), leg
            assert _cold_members(s) == _cold_members(driver), leg
            assert _tag_dirs(s) == sorted(
                f"tag={ManifestCommit._escape_partition_value(t)}" for t in TAGS
            ), leg

    def test_purge_log_compaction(self, spark, layered, tmp_path):
        logs = []
        for capped in (False, True):
            s = _copy(spark, layered, tmp_path / str(capped))
            marks = purge_scan(s, 0.0, 2, now_ms=1000)
            purge_ack_many(s, [m.purge_id for m in marks], now_ms=2000)
            before = _log_rows(s)
            _run(spark, s, capped, compact)
            log_dir = s.config.purge_log_path
            assert len([n for n in os.listdir(log_dir) if n.endswith(".parquet")]) == 1
            assert _log_rows(s) == before
            logs.append(before)
        assert logs[0] == logs[1]


# "spark" is the cap-0 leg, one-partition batches (``_path``)
@pytest.mark.parametrize("capped", [False, True], ids=["driver", "spark"])
class TestEviction:
    def test_tombstone_partition_evicted_and_dropped(self, spark, tmp_path, capped):
        s = _open(spark, tmp_path / "engine")
        s.write([("a", 1, "x"), ("a", 2, None)], ingest_ts=100)
        s.flush_l0()
        marks = _run(spark, s, capped, purge_scan, 0.0, 10, now_ms=1000)
        assert _run(spark, s, capped, purge_ack_many, [m.purge_id for m in marks]) == {marks[0].purge_id: True}
        assert _rows(s.hot()) == []
        assert _tag_dirs(s) == []

    def test_escaped_tag_evicted_and_dropped(self, spark, tmp_path, capped):
        s = _open(spark, tmp_path / "engine")
        s.write([("a:b", 1, "x"), ("a:b", 2, "y"), ("plain", 1, "z")], ingest_ts=100)
        s.flush_l0()
        marks = _run(spark, s, capped, purge_scan, 0.0, 1, now_ms=1000)
        assert [(m.tag, m.part_start) for m in marks] == [("a:b", 0)]
        _run(spark, s, capped, purge_ack_many, [marks[0].purge_id])
        assert [r[:3] for r in _rows(s.hot())] == [("plain", 1, "z")]
        assert _tag_dirs(s) == ["tag=plain"]
        assert _rows(s.read_all(include_cold=True)) == [("a:b", 1, "x"), ("a:b", 2, "y"), ("plain", 1, "z")]


def test_retention_drops_escaped_tags_and_their_directories(spark, tmp_path):
    s = _open(spark, tmp_path / "engine")
    s.write([("a:b", 1, "x"), ("a:b", 2, "y"), ("plain", 1, "z"), ("plain", 55, "w")], ingest_ts=100)
    s.flush_l0()
    marks = purge_scan(s, 0.0, 1, now_ms=1000)
    assert [(m.tag, m.part_start) for m in marks] == [("a:b", 0)]
    metrics = apply_retention(s, older_than_ms=WIDTH, drop_cold=True)
    assert (metrics.partitions_dropped, metrics.rows_dropped) == (2, 3)
    assert [r[:3] for r in _rows(s.hot())] == [("plain", 55, "w")]
    assert _tag_dirs(s) == ["tag=plain"]
    assert _rows(cold_snapshots(s)) == []
    assert not [n for n in os.listdir(s.config.cold_path) if n.startswith("purge_id=")]


def test_emptied_tag_directories_are_removed(spark, tmp_path):
    """A tag whose last partition goes, through retention or through a
    full-eviction ack, leaves no empty ``tag=`` directory behind."""
    s = _open(spark, tmp_path / "engine")
    s.write([("p", 1, "x"), ("q", 1, "y"), ("q", 55, "z"), ("r", 55, "w")], ingest_ts=100)
    s.flush_l0()
    apply_retention(s, older_than_ms=WIDTH)
    assert _tag_dirs(s) == ["tag=q", "tag=r"]
    marks = purge_scan(s, 0.0, 10, now_ms=1000)
    assert {(m.tag, m.part_start) for m in marks} == {("q", 50), ("r", 50)}
    purge_ack_many(s, [m.purge_id for m in marks if m.tag == "r"])
    assert _tag_dirs(s) == ["tag=q"]


@pytest.mark.parametrize("how", ["retention", "ack"])
def test_other_instance_sees_a_partition_drop(spark, tmp_path, how):
    """A partition dropped from a ``tag=`` directory that stays, by
    retention or by a full eviction, is seen by another store instance
    that cached its ``hot()`` handle before."""
    a = _open(spark, tmp_path / "engine")
    a.write([("t", 1, "x"), ("t", 55, "y")], ingest_ts=100)
    a.flush_l0()
    assert _rows(a.read_all()) == [("t", 1, "x"), ("t", 55, "y")]
    b = _open(spark, tmp_path / "engine")
    if how == "retention":
        apply_retention(b, older_than_ms=WIDTH)
    else:
        marks = purge_scan(b, 0.0, 1, now_ms=1000)
        assert [(m.tag, m.part_start) for m in marks] == [("t", 0)]
        assert purge_ack_many(b, [marks[0].purge_id]) == {marks[0].purge_id: True}
    assert _tag_dirs(a) == ["tag=t"]
    assert _rows(a.read_all()) == [("t", 55, "y")]


# ------------------------------------------------------ crash sweeps
def _sweep(spark, tmp_path, prepared, step, check):
    """Run ``step`` on a copy of ``prepared`` once to count its mutating
    storage calls, then once per k dying at the k-th: ``check(fresh,
    k)`` on a new store over the crashed copy; then the same writer
    retries ``step`` and ``check(retried, None)`` must hold."""
    dry = _copy(spark, prepared, tmp_path / "dry")
    dry.fs = CrashAtCall()
    step(dry)
    n = len(dry.fs.ops)
    assert n > 3
    for k in range(1, n + 1):
        s = _copy(spark, prepared, tmp_path / f"k{k}")
        s.fs = CrashAtCall(crash_at=k)
        with pytest.raises(Crash):
            step(s)
        check(_open(spark, s.config.root), k)
        s.fs = StorageFilesystem()  # the same writer restarts: its lease re-acquires
        step(s)
        check(_open(spark, s.config.root), None)


def _lww(s, **kw) -> list[tuple]:
    return _rows(s.read_range({"a:b": (0, 40), "p": (0, 40)}, **kw))


def test_purge_ack_crashed_at_every_storage_call(spark, tmp_path):
    _purge_ack_sweep(spark, tmp_path, capped=False)


def test_purge_ack_crashed_at_every_storage_call_in_one_partition_batches(spark, tmp_path):
    _purge_ack_sweep(spark, tmp_path, capped=True)


def _purge_ack_sweep(spark, tmp_path, capped):
    """For every k the ack (at the default cap, or at 0: one partition
    per batch) dies at its k-th mutating storage call. A fresh store
    reads hot∪cold as before the ack (which is also the state after
    it), its hot tier keeps every member the snapshots do not hold, and
    a retried ack reaches the after state."""
    s = _open(spark, tmp_path / "prepared")
    s.writer_id = "w"
    s.write([("a:b", 1, "x"), ("a:b", 2, None), ("a:b", 12, "y"), ("p", 3, "z")], ingest_ts=100)
    s.flush_l0()
    s.write([("p", 4, "w")], ingest_ts=150)
    marks = purge_scan(s, 0.0, 10, now_ms=1000)
    assert len(marks) == 3
    s.write([("a:b", 5, "late")], ingest_ts=2000)
    ids = [m.purge_id for m in marks]
    everything = sorted(
        [("a:b", 1, "x"), ("a:b", 5, "late"), ("a:b", 12, "y"), ("p", 3, "z"), ("p", 4, "w")],
        key=repr,
    )
    before = set(_hot_members(s))
    snapshot = set(_cold_members(s))
    survivors = before - snapshot
    assert [m[:3] for m in survivors] == [("a:b", 5, "late")]

    def check(fresh, k):
        assert _rows(fresh.read_all(include_cold=True)) == everything, k
        assert survivors <= set(_driver_hot_members(fresh)), k
        if k is None:
            assert set(_driver_hot_members(fresh)) == survivors
            assert _lww(fresh) == [("a:b", 5, "late")]
            assert _tag_dirs(fresh) == ["tag=a%3Ab"]
            assert purge_ack_many(fresh, ids) == {pid: False for pid in ids}

    def step(st):
        with _path(capped):
            purge_ack_many(st, ids, now_ms=3000)

    _sweep(spark, tmp_path, s, step, check)


def test_compact_crashed_at_every_storage_call(spark, tmp_path):
    _compact_sweep(spark, tmp_path, capped=False)


def test_compact_crashed_at_every_storage_call_in_tasks(spark, tmp_path):
    _compact_sweep(spark, tmp_path, capped=True)


def _compact_sweep(spark, tmp_path, capped):
    """For every k compaction (its purge-log rewrite included) dies at
    its k-th mutating storage call; at cap 0 Spark tasks write the
    temp files and the driver renames them. A fresh store reads the
    same LWW rows and purge log on both read paths, holds no member
    that was not there before, and a retried compaction leaves one
    member per key."""
    s = _open(spark, tmp_path / "prepared")
    s.writer_id = "w"
    s.write([("q", 30, "gone")], ingest_ts=50)
    s.write([("a:b", 1, "x"), ("a:b", 2, "y"), ("a:b", 12, "v"), ("p", 3, "z")], ingest_ts=100)
    s.flush_l0()
    purge_ack_many(s, [m.purge_id for m in purge_scan(s, 0.0, 1, now_ms=1000)])
    s.write([("a:b", 1, "x2"), ("a:b", 2, None), ("p", 3, "z2")], ingest_ts=200)
    s.flush_l0()
    expected = _lww(s)
    assert expected == [("a:b", 1, "x2"), ("a:b", 12, "v"), ("p", 3, "z2")]
    with_tombstones = _lww(s, with_tombstones=True)
    with_cold = _rows(s.read_all(include_cold=True))
    log = _log_rows(s)
    before = set(_hot_members(s))

    def check(fresh, k):
        assert _lww(fresh) == expected, k
        assert _lww(fresh, with_tombstones=True) == with_tombstones, k
        assert _rows(fresh.read_all(include_cold=True)) == with_cold, k
        assert _log_rows(fresh) == log, k
        assert set(_driver_hot_members(fresh)) <= before, k
        if k is None:
            assert max(Counter(m[:2] for m in _driver_hot_members(fresh)).values()) == 1

    def step(st):
        with _path(capped):
            compact(st)

    _sweep(spark, tmp_path, s, step, check)
