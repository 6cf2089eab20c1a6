"""Directory-mode range reads plan over only the requested partition
directories (``TimeseriesStore.hot_pruned``), and small ones are
answered on the driver (``_read_range_on_driver``). Differential of
both read paths against last-write-wins over the full ``hot()``, a pin
of Spark's partition path escaping, and a job-count pin for the read
after a ``write()``."""

from __future__ import annotations

import os
from unittest import mock

import pyarrow as pa
import pytest

from redis_lsm_timeseries_spark import store as store_module
from redis_lsm_timeseries_spark.commit import ManifestCommit
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.operators.lww import lww_latest
from redis_lsm_timeseries_spark.store import RANGE_RESULT_SCHEMA, TimeseriesStore
from store_helpers import TAGS, WIDTH, build_layered


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _store(spark, root) -> TimeseriesStore:
    s = TimeseriesStore(spark, EngineConfig(root=str(root), partition_width=WIDTH))
    s.initialize()
    return s


class TestPartitionEscaping:
    def test_escape_matches_spark(self, spark):
        spark_escape = (
            spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName
        )
        non_ascii = ["é", "ü", "中", "\U0001F600"]
        for c in [chr(i) for i in range(1, 128)] + non_ascii:
            s = f"a{c}b"
            assert ManifestCommit._escape_partition_value(s) == spark_escape(s), repr(c)

    def test_nul_is_escaped(self):
        """Spark leaves NUL raw; no path can hold it, so it is escaped."""
        assert ManifestCommit._escape_partition_value("a\x00b") == "a%00b"

    def test_unescape_round_trip(self):
        non_ascii = ["é", "ü", "中", "\U0001F600"]
        for c in [chr(i) for i in range(128)] + non_ascii:
            s = f"a{c}b"
            assert ManifestCommit._unescape_partition(
                ManifestCommit._escape_partition_value(s)
            ) == s, repr(c)


@pytest.fixture(scope="module")
def layered(spark, tmp_path_factory):
    """``store_helpers.build_layered``: rows in L1, L0 and a crashed
    flush's staging dir, with ties, tombstones and escaped tags."""
    return build_layered(spark, tmp_path_factory.mktemp("pruning") / "engine")


def _expected(store, ranges, with_tombstones=False):
    latest = lww_latest(store.hot()).collect()
    return sorted(
        (r.tag, r.ts, r.value)
        for r in latest
        if r.tag in ranges
        and ranges[r.tag][0] <= r.ts <= ranges[r.tag][1]
        and (with_tombstones or r.value is not None)
    )


def _got(store, ranges, with_tombstones=False):
    """``read_range``'s rows, read on the driver and again with the cap
    at 0, which forces the Spark plan; both must agree, rows and
    schema."""
    driver = store.read_range(ranges, with_tombstones=with_tombstones)
    with mock.patch.object(store_module, "MAX_DRIVER_READ_BYTES", 0):
        spark_df = store.read_range(ranges, with_tombstones=with_tombstones)
    assert "LocalTableScan" in _plan(driver)
    assert "FileScan parquet" in _plan(spark_df)
    assert driver.schema == spark_df.schema == RANGE_RESULT_SCHEMA
    got = sorted(tuple(r) for r in driver.collect())
    assert got == sorted(tuple(r) for r in spark_df.collect())
    return got


class TestReadRangeDifferential:
    @pytest.mark.parametrize("tag", TAGS)
    def test_each_tag_across_partitions(self, layered, tag):
        ranges = {tag: (-33, 42)}
        got = _got(layered, ranges)
        assert got and got == _expected(layered, ranges)

    @pytest.mark.parametrize(
        "ranges",
        [
            {"a:b": (-40, -1), "p/q": (-9, 9), "ü": (15, 100)},
            {"c%d": (-21, -21), "x=y": (0, 0), "sp ace": (41, 41)},
            {"a:b": (1000, 2000), "nothing:here": (-50, 50)},
            {t: (-40, 45) for t in [*TAGS, "tie"]},
        ],
        ids=["mixed", "points-and-tombstones", "empty", "every-tag"],
    )
    def test_multi_tag(self, layered, ranges):
        assert _got(layered, ranges) == _expected(layered, ranges)

    @pytest.mark.parametrize("with_tombstones", [False, True])
    def test_equal_lww_order_ties(self, layered, with_tombstones):
        ranges = {"tie": (0, 10)}
        got = _got(layered, ranges, with_tombstones)
        assert got == _expected(layered, ranges, with_tombstones)
        assert got == [("tie", 1, "b"), ("tie", 2, "a"), ("tie", 3, "a"), ("tie", 4, "a")]

    def test_with_tombstones(self, layered):
        ranges = {"a:b": (-40, 45), "plain": (-5, 45), "x=y": (30, 45)}
        got = _got(layered, ranges, with_tombstones=True)
        assert got == _expected(layered, ranges, with_tombstones=True)
        assert ("a:b", 0, None) in got and ("a:b", 41, None) in got
        assert ("plain", 41, "new") in got

    def test_lists_only_the_requested_directories(self, layered):
        preds = layered._range_file_predicates([("a:b", -33, -1)])
        dirs = layered._hot_partition_dirs(preds)
        hot = layered.config.hot_path
        assert sorted(os.path.relpath(d, hot) for d in dirs) == sorted(
            f"tag=a%3Ab/part_start={p}" for p in (-40, -30, -20, -10)
        )

    def test_flush_writes_into_the_bulk_load_directories(self, layered):
        """The driver-side flush names each ``tag=`` directory with
        Spark's escaping, so it appends to the bulk load's directory
        instead of creating a second one for the same tag."""
        hot = layered.config.hot_path
        tag_dirs = [n for n in os.listdir(hot) if n.startswith("tag=")]
        assert sorted(
            ManifestCommit._unescape_partition(n[len("tag="):]) for n in tag_dirs
        ) == sorted([*TAGS, "tie"])

    def test_read_index_and_read_page(self, layered):
        ranges = {"a:b": (-33, 42), "sp ace": (5, 25)}
        idx = [tuple(r) for r in layered.read_index(ranges).collect()]
        hot = layered.hot()
        want = {}
        for r in hot.select("tag", "part_start").distinct().collect():
            if r.tag not in ranges:
                continue
            lo, hi = ranges[r.tag]
            if lo - lo % WIDTH <= r.part_start <= hi:
                want.setdefault(r.tag, []).append(r.part_start)
        expected = [
            (tag, ps, i + 1)
            for tag in sorted(want)
            for i, ps in enumerate(sorted(want[tag], reverse=True))
        ]
        assert idx == expected
        page = sorted(
            tuple(r) for r in layered.read_page("a:b-10", 12, 25).collect()
        )
        assert page == sorted(
            tuple(r)
            for r in hot.where("tag = 'a:b' AND part_start = 10 AND ts BETWEEN 12 AND 25")
            .select("tag", "ts", "value", "ingest_ts", "writer_id", "seq")
            .collect()
        )
        assert {r[1] for r in page} == {14}

    def test_sink_log_falls_back_to_hot(self, layered):
        preds = layered._range_file_predicates([("a:b", 0, 9)])
        assert layered._hot_partition_dirs(preds)
        log = f"{layered.config.hot_path}/_spark_metadata"
        os.makedirs(log)
        try:
            assert layered._hot_partition_dirs(preds) is None
        finally:
            os.rmdir(log)


def test_many_candidate_directories(spark, tmp_path):
    """More candidate directories than Spark's parallel partition
    discovery threshold (32), which Spark lists with a job of its own:
    the per-directory read still matches LWW over the full ``hot()``."""
    s = _store(spark, tmp_path / "engine")
    rows = [("t", ts, f"v{ts}") for ts in range(-200, 200, 5)]
    s.write_df(spark.createDataFrame(rows, "tag string, ts long, value string"))
    s.write([("t", -200, "new"), ("t", 150, None)])
    ranges = {"t": (-195, 195)}
    dirs = s._hot_partition_dirs(s._range_file_predicates([("t", -195, 195)]))
    assert len(dirs) == 40
    got = _got(s, ranges)
    assert len(got) == 78 and got == _expected(s, ranges)


def test_read_after_write_starts_no_listing_job(spark, tmp_path):
    """A 40-tag store (more ``tag=`` directories than the parallel
    discovery threshold), then a ``write()``: the one-tag read is
    answered on the driver, a local relation whose plan and collect
    start no Spark job."""
    s = _store(spark, tmp_path / "engine")
    rows = [(f"tag{t:02d}", ts, "v") for t in range(40) for ts in range(0, 40, 3)]
    s.write_df(spark.createDataFrame(rows, "tag string, ts long, value string"))
    s.write([(f"tag{t:02d}", 41, "w") for t in range(40)])
    j0 = _next_job_id(spark)
    df = s.read_range({"tag07": (10, 45)})
    j1 = _next_job_id(spark)
    got = df.collect()
    j2 = _next_job_id(spark)
    assert (j1 - j0, j2 - j1) == (0, 0)
    assert _plan(df).startswith("LocalTableScan")
    assert sorted(r.ts for r in got) == [12, 15, 18, 21, 24, 27, 30, 33, 36, 39, 41]


def test_corrupt_candidate_file_raises(spark, tmp_path):
    """A candidate file that is not Parquet fails the driver read
    itself; the request is not handed to the Spark path."""
    s = _store(spark, tmp_path / "engine")
    s.write([("t", 1, "v")])
    with open(f"{s.config.l0_path}/part-corrupt.snappy.parquet", "wb") as fh:
        fh.write(b"not parquet" * 10)
    with pytest.raises(pa.ArrowInvalid):
        s.read_range({"t": (0, 9)})
