"""``refresh_rollup`` and the ``include_cold`` reads on the driver.
Each refresh case runs on four copies of one scenario — a directory
store and a ``ManifestCommit`` store, each at the default read cap and
at a cap of 0, which makes every tag a batch of its own — and requires
equal rollup rows, ``RollupMetrics`` and ``_rollup_meta.json`` fields,
no Spark job on a directory store and some on a ``ManifestCommit``
one. Also: tags whose directory names Spark escapes, a corpus of
numeric strings whose parse and decimal sum Spark defines, an error
in the last batch changing nothing, a rollup directory holding two
files refused, the rollup schema read without listing the hot tier,
and crash-point sweeps over the refresh."""

from __future__ import annotations

import json
import math
import os
import shutil
from collections import Counter
from contextlib import nullcontext
from unittest import mock

import pyarrow.dataset as ds
import pytest

from redis_lsm_timeseries_spark import store as store_module
from redis_lsm_timeseries_spark.commit import ManifestCommit, ParquetLeaseCommit
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.rollup import (
    ROLLUP_SCHEMA,
    read_rollup,
    refresh_rollup,
    rollup_full,
)
from redis_lsm_timeseries_spark.store import TimeseriesStore
from redis_lsm_timeseries_spark.tiering import purge_ack_many, purge_scan
from store_helpers import TAGS, Crash, CrashAtCall, build_layered

STEP = 10
#: narrower than a bucket, so a bucket spans several partitions
WIDTH = 4


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _open(spark, root, fs=None, commit=None) -> TimeseriesStore:
    s = TimeseriesStore(
        spark, EngineConfig(root=str(root), partition_width=WIDTH), fs=fs,
        commit=commit or ParquetLeaseCommit(),
    )
    s.initialize()
    s.writer_id = "w"
    return s


def _copy(spark, src: TimeseriesStore, root) -> TimeseriesStore:
    shutil.copytree(src.config.root, root)
    return _open(spark, root)


def _path(capped: bool):
    """A driver read cap of 0: every rollup tag is a batch of its own,
    and the reads take their Spark plans."""
    return mock.patch.object(store_module, "MAX_DRIVER_READ_BYTES", 0) if capped else nullcontext()


def _key(v):
    """A value that compares equal to itself when it is NaN."""
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _rows(df) -> list[tuple]:
    return sorted((tuple(_key(v) for v in r) for r in df.collect()), key=repr)


def _rollup(s, name="agg") -> list[tuple]:
    return _rows(read_rollup(s, name))


def _full(s) -> list[tuple]:
    return _rows(rollup_full(s, STEP))


def _meta(s, name="agg") -> dict:
    with open(f"{s.config.base_path}/rollups/{name}/_rollup_meta.json") as fh:
        return json.load(fh)


def _tag_dirs(s, name="agg") -> list[str]:
    data = f"{s.config.base_path}/rollups/{name}/data"
    return sorted(n for n in os.listdir(data) if n.startswith("tag=")) if os.path.exists(data) else []


def _rollup_tree(s) -> list[str]:
    """Every directory and file under the store's rollups, relative."""
    root = f"{s.config.base_path}/rollups"
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root) for n in dirs + files
    )


class _Leg:
    """One leg of a differential: refreshes the store ``s`` at the
    default cap or at 0, checks the job counts (none on a directory
    store) and records every refresh's metrics, rollup rows and meta."""

    def __init__(self, spark, s, capped):
        self.spark, self.s, self.capped = spark, s, capped
        self.record = []

    def refresh(self, name="agg", **kw):
        with _path(self.capped):
            j0 = _next_job_id(self.spark)
            m = refresh_rollup(self.s, name, STEP, **kw)
            jobs = _next_job_id(self.spark) - j0
        if isinstance(self.s.commit, ManifestCommit):
            assert jobs > 0, m
        else:
            assert jobs == 0, (m, jobs)
        self.record.append((m, _rollup(self.s, name), _meta(self.s, name)))
        return m


def _agree(spark, tmp_path, scenario):
    """Run ``scenario(leg)`` on four new stores: a directory store and
    a ``ManifestCommit`` one, each at the default cap and at 0. Every
    leg must record the same refreshes. Returns the directory leg at
    the default cap."""
    legs = []
    for commit in (ParquetLeaseCommit, ManifestCommit):
        for capped in (False, True):
            root = tmp_path / f"{commit.__name__}-{'capped' if capped else 'default'}"
            leg = _Leg(spark, _open(spark, root, commit=commit()), capped)
            scenario(leg)
            legs.append(leg)
    first = legs[0]
    assert len(first.record) > 0
    for leg in legs[1:]:
        assert len(leg.record) == len(first.record)
        for k, (a, b) in enumerate(zip(first.record, leg.record)):
            assert a == b, (type(leg.s.commit).__name__, leg.capped, k)
    assert _rollup(first.s) == _full(first.s)
    return first


def test_create_and_incremental_refresh(spark, tmp_path):
    def scenario(leg):
        s = leg.s
        s.write([("cpu", 1, "1.5"), ("cpu", 4, "2.5"), ("cpu", 12, "4.0"), ("mem", 3, "opaque"),
                 ("mem", 23, "7"), ("disk", 35, "-2")], ingest_ts=1000)
        s.flush_l0()
        s.write([("cpu", 13, "x"), ("mem", 3, "3")], ingest_ts=1100)
        m = leg.refresh()
        assert (m.buckets_refreshed, m.tags_touched, m.watermark_ingest_ts) == (5, 3, 1100)
        # a new bucket, a late write into an old one and an LWW update
        s.write([("cpu", 25, "10.0"), ("cpu", 7, "3.5"), ("cpu", 12, "5.0")], ingest_ts=2000)
        m = leg.refresh()
        assert (m.buckets_refreshed, m.tags_touched) == (3, 1)
        leg.refresh()  # nothing new: no bucket touched

    driver = _agree(spark, tmp_path, scenario)
    got = {r[:2]: r for r in driver.record[1][1]}
    assert got[("cpu", 10)][2:5] == (2, 1, 5.0)  # n, n_numeric, sum_num


def test_tombstones_empty_a_bucket_and_a_tag(spark, tmp_path):
    def scenario(leg):
        s = leg.s
        s.write([("t", 5, "1.0"), ("t", 15, "2.0"), ("gone", 1, "3"), ("gone", 22, "4"),
                 ("a:b", 2, "5")], ingest_ts=1000)
        leg.refresh()
        s.write([("t", 15, None), ("gone", 1, None), ("gone", 22, None)], ingest_ts=2000)
        m = leg.refresh()
        assert (m.buckets_refreshed, m.tags_touched) == (3, 2)

    driver = _agree(spark, tmp_path, scenario)
    assert [r[:2] for r in driver.record[-1][1]] == [("a:b", 0), ("t", 0)]
    assert _tag_dirs(driver.s) == ["tag=a%3Ab", "tag=t"]


def test_refresh_over_cold_members_and_the_duplicate_window(spark, tmp_path):
    """Members sit in cold after a purge; between ``purge_scan`` and
    the ack the same members are in hot and in cold, and a recompute
    must count them once."""

    def scenario(leg):
        s = leg.s
        s.write([(t, ts, f"{ts}.5") for t in ("p", "q:r") for ts in range(0, 40, 3)], ingest_ts=1000)
        s.flush_l0()
        leg.refresh()
        marks = purge_scan(s, 0.0, 6, now_ms=5000)
        assert len(marks) == 6
        # snapshotted, not acked: every marked member is in both tiers
        s.write([("p", 1, "100"), ("q:r", 30, None)], ingest_ts=6000)
        m = leg.refresh()
        assert m.buckets_refreshed == 2
        purge_ack_many(s, [mk.purge_id for mk in marks], now_ms=7000)
        s.write([("p", 2, "200"), ("q:r", 31, "7")], ingest_ts=8000)
        leg.refresh()

    _agree(spark, tmp_path, scenario)


def test_boundary_tie_and_a_backlog_over_three_calls(spark, tmp_path):
    def scenario(leg):
        s = leg.s
        s.write([("seed", 1, "0")], ingest_ts=1000)
        leg.refresh()
        # a write tied with the watermark is folded in by the next refresh
        s.write([("seed", 2, "2")], ingest_ts=1000)
        for i, tag in enumerate("abcde"):
            s.write([(tag, 10 * i, f"{i}.25")], ingest_ts=1001 + i)
        ms = [leg.refresh(max_tags=2) for _ in range(3)]
        assert [(m.tags_touched, m.backlog) for m in ms] == [(2, True), (2, True), (2, False)]
        assert ms[-1].watermark_ingest_ts == 1005
        m = leg.refresh(max_tags=2)
        assert (m.buckets_refreshed, m.backlog) == (0, False)

    driver = _agree(spark, tmp_path, scenario)
    assert driver.record[0][0].watermark_ingest_ts == 1000
    assert driver.record[1][2]["partial"]["cursor"] == [1001, "a"]


def test_escaped_tags(spark, tmp_path):
    def scenario(leg):
        s = leg.s
        s.write([(t, ts, f"{len(t)}.{ts}") for t in TAGS for ts in (1, 12, 27)], ingest_ts=1000)
        leg.refresh()
        s.write([(t, 13, "9") for t in TAGS[:4]] + [(TAGS[4], ts, None) for ts in (1, 12, 27)],
                ingest_ts=2000)
        m = leg.refresh()
        assert m.tags_touched == 5

    driver = _agree(spark, tmp_path, scenario)
    assert {r[0] for r in driver.record[-1][1]} == set(TAGS) - {TAGS[4]}


#: strings whose parse, by ``try_cast(value AS double)``, Spark defines:
#: padding, control characters, Java's suffixes and hex floats, the
#: special literals Spark and Java spell differently, digits Python
#: would accept and Java would not, and sums that round at the 10th
#: decimal of ``decimal(28,10)``
NUMERIC_STRINGS = [
    "1", " 1 ", "\t2\n", "\x002\x00", "\xa02", " 2", "1.5f", "1d", "1e5f", "1.0e10D",
    "1_0", "٣", "1,5", "", " ", "+", "-", ".", "5.", ".5", "-0", "+0.0", "1e", "1e+",
    "1E+05", "0x1p3", "0X1.8P1", "1.2.3", "12abc", "abc", "inf", "-inf", "+inf", "INF",
    "Infinity", "-Infinity", "InFiNiTy", "nan", "NaN", "+NaN", "-NaN", "+nan", " nan ",
    "1e400", "-1e400", "1e-400", "4.9e-324", "5e-11", "-5e-11", "4.9999999999e-11",
    "1.00000000005", "0.1", "0.2", "0.3", "123456789.123456789", "2.82879384806159e17",
    "8.41e17", "9.007199254740993e15", "99999999999999999.99999999999", "1e17",
    "0.30000000000000004", "1e-10", "-1e-10", "7e-11",
]


def test_numeric_strings(spark, tmp_path):
    """Each string alone in a bucket, every string in one bucket, and
    pairs that sum across the rounding boundaries."""

    def scenario(leg):
        s = leg.s
        rows = [("each", 10 * i, v) for i, v in enumerate(NUMERIC_STRINGS)]
        rows += [("all", i, v) for i, v in enumerate(NUMERIC_STRINGS)]
        rows += [("pairs", 10 * (i // 2) + i % 2, v) for i, v in enumerate(NUMERIC_STRINGS)]
        s.write(rows, ingest_ts=1000)
        leg.refresh()
        s.write([("each", 0, "NaN"), ("all", 0, "-Infinity"), ("pairs", 1, "nan")], ingest_ts=2000)
        leg.refresh()

    driver = _agree(spark, tmp_path, scenario)
    got = {r[:2]: r for r in driver.record[0][1]}
    assert got[("each", 10 * NUMERIC_STRINGS.index("5e-11"))][4] == 1e-10  # HALF_UP
    assert got[("each", 10 * NUMERIC_STRINGS.index("nan"))][3:7] == (1, None, "NaN", "NaN")


@pytest.mark.parametrize(
    "capped,tags", [(False, "t"), (True, "t"), (True, "abcd")], ids=["driver", "capped", "batches"]
)
def test_decimal_overflow_raises_and_changes_nothing(spark, tmp_path, capped, tags):
    """A value past ``decimal(28,10)`` fails the refresh under ANSI, as
    Spark's own cast does, and leaves the rollup as it was: its rows,
    its meta, its tag directories, and no staged file. With several
    tags at a cap of 0 every tag is a batch of its own and the overflow
    sits in the last one, so a refresh that published each batch as
    it went would have changed the others."""
    s = _open(spark, tmp_path / "engine")
    s.write([(t, 1, "1") for t in tags], ingest_ts=1000)
    refresh_rollup(s, "agg", STEP)
    before = (_rollup(s), _meta(s), _tag_dirs(s), _rollup_tree(s))
    if tags[:-1]:
        s.write([(t, 2, "2") for t in tags[:-1]], ingest_ts=2000)
    s.write([(tags[-1], 2, "1e18")], ingest_ts=2001)
    with _path(capped), pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        refresh_rollup(s, "agg", STEP)
    assert (_rollup(s), _meta(s), _tag_dirs(s), _rollup_tree(s)) == before
    assert not [p for p in _rollup_tree(s) if ".inprogress" in p]


def test_tag_directory_with_two_files_is_refused(spark, tmp_path):
    """A rollup ``tag=`` directory holding a second data file cannot be
    replaced by one rename: the refresh that would rewrite it raises,
    naming the directory, and changes nothing."""
    s = _open(spark, tmp_path / "engine")
    s.write([("a:b", 1, "1"), ("t", 1, "2")], ingest_ts=1000)
    refresh_rollup(s, "agg", STEP)
    tag = f"{s.config.base_path}/rollups/agg/data/tag=a%3Ab"
    (name,) = [n for n in os.listdir(tag) if not n.startswith((".", "_"))]
    shutil.copy(f"{tag}/{name}", f"{tag}/part-copy.snappy.parquet")
    before = (_data_rows(s), _meta(s), _rollup_tree(s))
    s.write([("a:b", 2, "3"), ("t", 2, "4")], ingest_ts=2000)
    with pytest.raises(ValidationError, match=r"tag=a%3Ab.* holds 2 data files.*Recompute"):
        refresh_rollup(s, "agg", STEP)
    assert (_data_rows(s), _meta(s), _rollup_tree(s)) == before


@pytest.mark.parametrize("capped", [False, True], ids=["driver", "capped"])
def test_escaped_tag_dropped_when_emptied(spark, tmp_path, capped):
    """A tag whose every key is tombstoned loses its rollup rows and
    its ``tag=`` directory, escaped name or not."""
    s = _open(spark, tmp_path / "engine")
    s.write([("a:b", 1, "1"), ("plain", 1, "2")], ingest_ts=1000)
    with _path(capped):
        refresh_rollup(s, "agg", STEP)
        assert _tag_dirs(s) == ["tag=a%3Ab", "tag=plain"]
        s.write([("a:b", 1, None), ("plain", 1, None)], ingest_ts=2000)
        refresh_rollup(s, "agg", STEP)
    assert _rollup(s) == []
    assert _tag_dirs(s) == []


class _CountingFs(StorageFilesystem):
    def __init__(self):
        self.listed = []

    def listdir(self, path):
        self.listed.append(path)
        return super().listdir(path)

    def list_files(self, path):
        self.listed.append(path)
        return super().list_files(path)


def test_read_rollup_schema_lists_no_hot_tier(spark, tmp_path):
    fs = _CountingFs()
    s = _open(spark, tmp_path / "engine", fs=fs)
    s.write([("t", 1, "1"), ("u", 12, "x")], ingest_ts=1000)
    s.flush_l0()
    s.write([("t", 2, "2")], ingest_ts=1001)
    refresh_rollup(s, "agg", STEP)
    fs.listed.clear()
    df = read_rollup(s, "agg")
    tiers = (s.config.hot_path, s.config.l0_path, s.config.l0_staging_path)
    assert not [p for p in fs.listed if p.startswith(tiers)]
    assert df.dtypes == rollup_full(s, STEP).dtypes == [(f.name, f.dataType.simpleString()) for f in ROLLUP_SCHEMA]
    assert _rollup(s) == _full(s)


# ------------------------------------------------- include_cold reads
@pytest.fixture(scope="module")
def layered_with_cold(spark, tmp_path_factory):
    """The ``layered`` store after a purge of most partitions: some
    acked out of hot, the rest only snapshotted, so cold holds members
    hot still has."""
    s = build_layered(spark, tmp_path_factory.mktemp("rollup") / "layered")
    marks = purge_scan(s, 0.0, 12, now_ms=10_000)
    purge_ack_many(s, [m.purge_id for m in marks[::2]], now_ms=11_000)
    s.write([(t, -20, f"after {t}") for t in TAGS[:3]], ingest_ts=12_000)
    return s


def _read_both(spark, read):
    out = []
    for on_spark in (False, True):
        with _path(on_spark):
            j0 = _next_job_id(spark)
            rows = _rows(read())
            jobs = _next_job_id(spark) - j0
        assert (jobs > 0) if on_spark else (jobs == 0), jobs
        out.append(rows)
    assert out[0] == out[1]
    return out[0]


def test_include_cold_reads_agree(spark, layered_with_cold):
    s = layered_with_cold
    cold_files = s.commit.driver_table_files(s, s.config.cold_path)
    assert cold_files
    everything = _read_both(spark, lambda: s.read_all(include_cold=True, with_tombstones=True))
    assert _read_both(spark, lambda: s.read_all(include_cold=True)) == [r for r in everything if r[2] is not None]
    # tombstones shadow older members in cold
    assert ("a:b", 0, None) in everything
    ranges = {"a:b": (-30, 12), "sp ace": (-40, 40), "tie": (0, 5), "none": (0, 1)}
    got = _read_both(spark, lambda: s.read_range(ranges, include_cold=True))
    assert got == [r for r in everything if r[0] in ranges and ranges[r[0]][0] <= r[1] <= ranges[r[0]][1]
                   and r[2] is not None]
    assert ("a:b", -20, "after a:b") in got


# ------------------------------------------------------ crash sweeps
def _data_rows(s) -> list[tuple]:
    """Every row of the rollup's data files, duplicates kept."""
    data = f"{s.config.base_path}/rollups/agg/data"
    paths = s.commit.driver_table_files(s, data)
    if not paths:
        return []
    table = ds.dataset(data, format="parquet", partitioning="hive").to_table()
    return [(r["tag"], r["bucket_start"]) for r in table.to_pylist()]


def _by_tag(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[0], []).append(r)
    return out


@pytest.mark.parametrize(
    "create,capped", [(True, False), (False, False), (False, True)],
    ids=["create", "incremental", "incremental-capped"],
)
def test_refresh_crashed_at_every_storage_call(spark, tmp_path, create, capped):
    """For every k the refresh dies at its k-th mutating storage call.
    A fresh store reads each tag's rollup rows as before the refresh or
    as after it, no data file holds a bucket twice, and a retried
    refresh equals ``rollup_full``. At a cap of 0 every tag is a batch
    of its own, so the publish spans several batches."""
    prepared = _open(spark, tmp_path / "prepared")
    prepared.write([("a:b", 1, "1"), ("a:b", 12, "2"), ("p", 3, "3"), ("q", 4, "4"), ("gone", 5, "5")],
                   ingest_ts=1000)
    if not create:
        refresh_rollup(prepared, "agg", STEP)
        # a:b and p change, gone empties, new appears, q is untouched
        prepared.write([("a:b", 2, "6"), ("p", 33, "7"), ("gone", 5, None), ("new", 1, "8")], ingest_ts=2000)
    before = None if create else _by_tag(_rollup(prepared))

    dry = _copy(spark, prepared, tmp_path / "dry")
    dry.fs = CrashAtCall()
    with _path(capped):
        refresh_rollup(dry, "agg", STEP)
    n = len(dry.fs.ops)
    after, after_meta = _by_tag(_rollup(dry)), _meta(dry)
    assert n > 4

    for k in range(1, n + 1):
        s = _copy(spark, prepared, tmp_path / f"k{k}")
        s.fs = CrashAtCall(crash_at=k)
        with _path(capped), pytest.raises(Crash):
            refresh_rollup(s, "agg", STEP)
        fresh = _open(spark, s.config.root)
        assert max(Counter(_data_rows(fresh)).values(), default=1) == 1, k
        try:
            got = _by_tag(_rollup(fresh))
        except ValidationError:
            assert create, k  # no meta yet: the rollup does not exist
        else:
            for tag in set(got) | set(after) | set(before or {}):
                assert got.get(tag) in ((before or {}).get(tag), after.get(tag)), (k, tag)
        s.fs = StorageFilesystem()  # the same writer restarts: its lease re-acquires
        with _path(capped):
            refresh_rollup(s, "agg", STEP)
        assert _rollup(s) == _full(s), k
        assert _by_tag(_rollup(s)) == after and _meta(s) == after_meta, k
        assert not [p for p in _rollup_tree(s) if ".inprogress" in p], k


# ------------------------------------------- read_rollup on the driver
@pytest.fixture(scope="module")
def rollup_store(spark, tmp_path_factory):
    """A directory store holding a rollup and a ``with_sketch`` rollup
    over every escaped tag, and a ``ManifestCommit`` store holding the
    same rollup."""
    root = tmp_path_factory.mktemp("read_rollup")
    stores = {}
    for commit in (ParquetLeaseCommit, ManifestCommit):
        s = _open(spark, root / commit.__name__, commit=commit())
        s.write([(t, ts, f"{ts}.5") for t in TAGS for ts in (-15, 1, 12, 27, 33)], ingest_ts=1000)
        refresh_rollup(s, "agg", STEP)
        stores[commit] = s
    refresh_rollup(stores[ParquetLeaseCommit], "sk", STEP, with_sketch=True)
    return stores


#: ``read_rollup`` arguments: tags (escaped, plain, absent), either side
#: of ``bucket_range`` open, both filters, and a range no bucket meets
READS = {
    "all": {},
    "tags": {"tags": ["a:b", "plain", "absent"]},
    "from": {"bucket_range": (10, None)},
    "until": {"bucket_range": (None, 10)},
    "tags-and-range": {"tags": ["sp ace", "x=y"], "bucket_range": (0, 20)},
    "empty": {"bucket_range": (100, 200)},
}


@pytest.mark.parametrize("read", sorted(READS))
@pytest.mark.parametrize("name", ["agg", "sk"])
def test_read_rollup_on_the_driver_matches_spark(spark, rollup_store, name, read):
    """Within the cap a directory store's rollup read is a local
    relation that starts no job, with the Spark plan's schema and rows
    (the sketch rollup's binary column included)."""
    s = rollup_store[ParquetLeaseCommit]
    j0 = _next_job_id(spark)
    driver = read_rollup(s, name, **READS[read])
    got = _rows(driver)
    assert _next_job_id(spark) - j0 == 0
    assert driver.isLocal()
    with _path(True):
        on_spark = read_rollup(s, name, **READS[read])
    assert not on_spark.isLocal()
    assert driver.schema == on_spark.schema
    assert got == _rows(on_spark)
    assert (got == []) == (read == "empty")
    if name == "sk" and got:
        assert isinstance(got[0][-1], (bytes, bytearray))


def test_read_rollup_on_manifest_commit_takes_spark(spark, rollup_store):
    """A version-logged rollup and a ``version=`` read keep the Spark
    plan, and read the rows the driver path reads."""
    m = rollup_store[ManifestCommit]
    df = read_rollup(m, "agg", tags=["a:b"], bucket_range=(0, None))
    assert not df.isLocal()
    assert not read_rollup(m, "agg", version=0).isLocal()
    driver = read_rollup(rollup_store[ParquetLeaseCommit], "agg", tags=["a:b"], bucket_range=(0, None))
    assert _rows(df) == _rows(driver) != []
