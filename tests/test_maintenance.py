"""Small-file compaction (``maintenance.compact_small_files``):
bin-packs undersized files from the manifest's recorded row counts —
zero storage reads to plan — one atomic commit per group, hive
layout preserved, big files untouched."""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.maintenance import compact_small_files

SCHEMA = "k long, v string"


def _append(spark, host, commit, path, rows):
    commit.append_rows(host, rows, SCHEMA, path)


@pytest.fixture()
def env(spark, tmp_path):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / "t")
    # 6 tiny files + 1 big file
    for i in range(6):
        _append(spark, host, commit, path, [(i, f"v{i}")])
    big = spark.createDataFrame(
        [(100 + i, f"b{i}") for i in range(500)], SCHEMA
    )
    commit.rewrite_files(
        host, path, [],
        lambda tmp: big.coalesce(1).write.mode("overwrite").parquet(tmp),
    )
    return host, commit, path


class TestCompaction:
    def test_folds_small_files_leaves_big_alone(self, spark, env):
        host, commit, path = env
        before = commit.member_files(host, path)
        big_files = [
            f
            for f, s in commit.member_file_stats(host, path).items()
            if s and s["rows"] >= 100
        ]
        st = compact_small_files(host, path, target_rows=100, commit=commit)
        assert st.groups == 1 and st.files_compacted == 6
        after = commit.member_files(host, path)
        assert len(after) == len(before) - 6 + 1
        assert set(big_files) <= set(after)  # untouched
        got = {
            r.k: r.v
            for r in commit.read_table(host, path, SCHEMA).collect()
        }
        assert len(got) == 506 and got[3] == "v3" and got[100] == "b0"

    def test_second_run_is_a_noop(self, spark, env):
        host, commit, path = env
        compact_small_files(host, path, target_rows=100, commit=commit)
        st = compact_small_files(host, path, target_rows=100, commit=commit)
        assert st.groups == 0 and st.files_compacted == 0

    def test_target_rows_splits_groups(self, spark, env):
        host, commit, path = env
        # each tiny file is 1 row; target 2 => groups of exactly 2
        st = compact_small_files(host, path, target_rows=2, commit=commit)
        assert st.groups == 3 and st.files_compacted == 6

    def test_max_groups_bounds_one_run(self, spark, env):
        host, commit, path = env
        st = compact_small_files(
            host, path, target_rows=2, max_groups=1, commit=commit
        )
        assert st.groups == 1
        st2 = compact_small_files(
            host, path, target_rows=2, commit=commit
        )
        assert st2.groups == 2  # the rest compacts on the next run
        assert commit.read_table(host, path, SCHEMA).count() == 506

    def test_partitioned_member_groups_within_partition(
        self, spark, tmp_path
    ):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        for i in range(4):
            df = spark.createDataFrame(
                [(i, i % 2, f"v{i}")], "k long, p long, v string"
            )
            commit.append_partitioned(host, df, path, ["p"])
        st = compact_small_files(host, path, target_rows=100, commit=commit)
        assert st.groups == 2 and st.files_compacted == 4
        for f in commit.member_files(host, path):
            assert f.startswith("p="), f
        assert commit.read_table(host, path, None).count() == 4

    def test_unmanaged_path_raises(self, spark, tmp_path):
        host = CommitHost(spark)
        plain = str(tmp_path / "plain")
        spark.createDataFrame([(1, "a")], SCHEMA).write.parquet(plain)
        with pytest.raises(ValidationError, match="manifest"):
            compact_small_files(host, plain)

    def test_concurrent_append_becomes_next_runs_input(self, spark, env):
        host, commit, path = env
        real_stage = ManifestCommit._stage_in
        raced = {"done": False}

        def racing_stage(self_, store, root, member, write_fn):
            files = real_stage(self_, store, root, member, write_fn)
            if not raced["done"]:
                raced["done"] = True
                ManifestCommit().append_rows(
                    store, [(999, "racer")], SCHEMA, path
                )
            return files

        ManifestCommit._stage_in = racing_stage
        try:
            compact_small_files(host, path, target_rows=100, commit=commit)
        finally:
            ManifestCommit._stage_in = real_stage
        got = {
            r.k: r.v
            for r in commit.read_table(host, path, SCHEMA).collect()
        }
        assert got[999] == "racer" and len(got) == 507


class TestObservability:
    def test_table_report_reads_only_the_log(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.maintenance import table_report

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], SCHEMA
        ).repartitionByRange(4, "k").sortWithinPartitions("k")
        commit.rewrite_files(
            host, path, [],
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        r = table_report(host, path, commit=commit)
        assert r["files"] == 4 and r["rows"] == 100
        assert r["files_with_stats"] == 4
        # range-clustered on k: each file spans ~1/4 of the domain
        assert r["clustering_span_fraction"]["k"] < 0.5
        # unclustered rewrite degrades the health number
        shuffled = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], SCHEMA
        ).repartition(4)
        commit.snapshot_rewrite(
            host, path,
            lambda tmp: shuffled.write.mode("overwrite").parquet(tmp),
        )
        r2 = table_report(host, path, commit=commit)
        assert r2["clustering_span_fraction"]["k"] > \
            r["clustering_span_fraction"]["k"]

    def test_version_history_and_asof(self, spark, tmp_path):
        import time as _t

        from redis_lsm_timeseries_spark.errors import (
            VersionNotFoundError,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        commit.append_rows(host, [(1, "a")], SCHEMA, path)
        _t.sleep(0.05)
        mid_ms = int(_t.time() * 1000)
        _t.sleep(0.05)
        commit.append_rows(host, [(2, "b")], SCHEMA, path)
        hist = commit.version_history(host, path)
        assert [h["version"] for h in hist] == [0, 1]
        assert all(h["ts_ms"] is not None for h in hist)
        assert hist[0]["members"][""] == 1
        assert hist[1]["members"][""] == 2
        v = commit.resolve_version_asof(host, path, mid_ms)
        assert v == 0
        asof = commit.read_table(host, path, SCHEMA, version=v)
        assert [(r.k, r.v) for r in asof.collect()] == [(1, "a")]
        with pytest.raises(VersionNotFoundError):
            commit.resolve_version_asof(host, path, mid_ms - 10_000)

    def test_optimize_table_composes_the_pass(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.maintenance import optimize_table

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        for i in range(5):
            commit.append_rows(
                host, [(i, f"v{i}")], SCHEMA, path
            )
        st = optimize_table(
            host, path, zorder_cols=None, target_rows=100,
            commit=commit,
        )
        assert st.compacted_files == 5
        assert st.report["files"] == 1 and st.report["rows"] == 5
        got = commit.read_table(host, path, SCHEMA).count()
        assert got == 5

    def test_fast_count_from_log_alone(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.maintenance import fast_count

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(90)],
            "k long, p long, v string",
        ).coalesce(1)  # ONE file per hive partition: wide k bands
        commit.append_partitioned(host, df, path, ["p"])
        # unpredicated: exact sum of per-file rows
        assert fast_count(host, path, commit=commit) == 90
        # hive partition predicate: min==max per file -> provable
        assert fast_count(
            host, path, {"p": {1}}, commit=commit
        ) == 30
        assert fast_count(
            host, path, {"p": (1, 2)}, commit=commit
        ) == 60
        assert fast_count(
            host, path, {"p": {99}}, commit=commit
        ) == 0
        # data-column predicate that SPLITS a file (each file spans
        # k 0..~89, the bound covers part of it): not provable
        assert fast_count(
            host, path, {"k": (0, 10)}, commit=commit
        ) is None
        # ... but a range containing a file's whole recorded span IS
        # provable (r15: interval containment, not just min==max)
        assert fast_count(
            host, path, {"k": (0, 1_000)}, commit=commit
        ) == 90
        # agrees with the real scan where provable
        real = commit.read_table(host, path, None).where("p = 1").count()
        assert real == 30


class TestSteadyStateLoop:
    def test_sink_then_optimize_keeps_content_and_tightens_stats(
        self, spark, tmp_path
    ):
        """The steady-state story end to end: micro-batches land
        through the exactly-once sink (small files), optimize_table
        folds + Z-orders + vacuums, content is byte-identical, the
        clustering health number improves, and the next pruned read
        plans over fewer files on BOTH clustered columns."""
        from redis_lsm_timeseries_spark.maintenance import (
            optimize_table,
            table_report,
        )
        from redis_lsm_timeseries_spark.streaming.sink import (
            manifest_sink,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        out = str(tmp_path / "events")
        sink = manifest_sink(out)
        schema = "x long, y long, v string"
        rows = [(i, (i * 37) % 100, f"v{i}") for i in range(100)]
        for b in range(10):  # 10 micro-batches of 10 rows
            df = spark.createDataFrame(rows[b * 10:(b + 1) * 10], schema)
            sink(df, b)
        r0 = table_report(host, out, commit=commit)
        assert r0["files"] >= 10

        st = optimize_table(
            host, out, zorder_cols=["x", "y"], target_rows=1000,
            commit=commit,
        )
        assert st.compacted_files >= 10
        r1 = st.report
        assert r1["rows"] == 100
        got = {
            (r.x, r.y, r.v)
            for r in commit.read_table(host, out, schema).collect()
        }
        assert got == set(rows)
        # replayed batch after maintenance still skips (cursor intact)
        sink(spark.createDataFrame(rows[:10], schema), 9)
        assert commit.read_table(host, out, schema).count() == 100
        # a later ingest + second optimize re-clusters only the tail
        sink(spark.createDataFrame(
            [(200 + i, i, f"n{i}") for i in range(10)], schema
        ), 10)
        st2 = optimize_table(
            host, out, zorder_cols=["x", "y"], target_rows=1000,
            commit=commit,
        )
        assert commit.read_table(host, out, schema).count() == 110


class TestFastMinMax:
    """r12: exact column min/max from the log alone — the
    what-time-range-does-this-table-cover question at zero storage
    reads."""

    def _t(self, spark, tmp_path, rows, schema):
        from redis_lsm_timeseries_spark.commit import CommitHost

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        for band in rows:
            df = spark.createDataFrame(band, schema).coalesce(1)
            commit.rewrite_files(
                host, path, [],
                lambda tmp, d=df: d.write.mode("overwrite").parquet(tmp),
            )
        return host, commit, path

    def test_numeric_and_string(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.maintenance import fast_min_max

        host, commit, path = self._t(
            spark, tmp_path,
            [[("a", 5), ("m", 9)], [("c", -2), ("z", 7)]],
            "k string, v long",
        )
        assert fast_min_max(host, path, "v", commit=commit) == (-2, 9)
        assert fast_min_max(host, path, "k", commit=commit) == ("a", "z")
        # unstatted column: scan fallback
        assert fast_min_max(host, path, "nope", commit=commit) is None

    def test_timestamps_decode(self, spark, tmp_path):
        import datetime

        from redis_lsm_timeseries_spark.maintenance import fast_min_max

        t0 = datetime.datetime(2024, 1, 1)
        t1 = datetime.datetime(2024, 6, 1)
        host, commit, path = self._t(
            spark, tmp_path,
            [[(1, t0)], [(2, t1)]],
            "k long, ev timestamp_ntz",
        )
        assert fast_min_max(host, path, "ev", commit=commit) == (t0, t1)

    def test_nulls_do_not_gate_min_max(self, spark, tmp_path):
        """SQL min/max ignore NULLs — a file with some NULLs still
        answers exactly from its non-null min/max."""
        from redis_lsm_timeseries_spark.maintenance import fast_min_max

        host, commit, path = self._t(
            spark, tmp_path,
            [[("a", 5), ("b", None)]],
            "k string, v long",
        )
        assert fast_min_max(host, path, "v", commit=commit) == (5, 5)
        real = (
            commit.read_table(host, path)
            .agg({"v": "min"}).first()[0]
        )
        assert real == 5
