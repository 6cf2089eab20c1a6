"""Row-level change feed across rewrites (round 12).

Round 11 made source rewrites routine maintenance (zorder_compact,
compact_small_files, merge_into are cron fare), and the append-only
file diff turned every one of them into a full mirror resync. This
suite pins the r12 contract:

- content-preserving rewrites commit ``change: {"kind": "preserve"}``
  and the FILE-level feed (``read_changes``) skips them — routine
  OPTIMIZE never breaks an append-only consumer;
- merge/delete commit their row-level changes as typed CDF files in
  the same atomic entry, served by ``read_row_changes`` and retained
  exactly as long as their entry (vacuum self-expires them);
- ``mirror_changes(keys=...)`` applies a range containing merges,
  deletes, compactions and Z-order passes as O(delta) keyed
  upserts/deletes — zero resyncs — and stays exactly-once under
  crash replay.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.changefeed import mirror_changes
from redis_lsm_timeseries_spark.commit import (
    CommitHost,
    DATA_DIR,
    ManifestCommit,
)
from redis_lsm_timeseries_spark.errors import (
    NonAppendHistoryError,
    ValidationError,
)
from redis_lsm_timeseries_spark.maintenance import compact_small_files
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    merge_into,
)
from redis_lsm_timeseries_spark.operators.zorder import zorder_compact

SCHEMA = "k long, v string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _fx(spark, tmp_path):
    host, commit = CommitHost(spark), ManifestCommit()
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    commit.append_table_with_meta(
        host, src, _df(spark, [(1, "a"), (2, "b")]).coalesce(1), {}
    )
    return host, commit, src, dst


def _rows(spark, host, commit, path):
    return sorted(
        (r.k, r.v)
        for r in commit.read_table(host, path, SCHEMA).collect()
    )


class TestPreserveCommits:
    def test_file_feed_skips_compaction(self, spark, tmp_path):
        """Small-file compaction between two feed reads contributes
        nothing and breaks nothing — including when it folds away a
        file appended IN the range (its rows still read: retention
        keeps every retained version's files)."""
        host, commit, src, _ = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, src)[-1]
        commit.append_table_with_meta(
            host, src, _df(spark, [(3, "c")]).coalesce(1), {}
        )
        compact_small_files(host, src, commit=commit)
        assert commit.table_file_count(host, src) == 1  # folded
        delta = commit.read_changes(host, src, v0)
        assert sorted((r.k, r.v) for r in delta.collect()) == [(3, "c")]

    def test_file_feed_skips_zorder_pass(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        src = str(tmp_path / "zsrc")
        df = spark.createDataFrame(
            [(i, i % 7, i * 2) for i in range(200)],
            "k long, a long, b long",
        ).repartition(4)
        commit.append_table_with_meta(host, src, df, {})
        v0 = commit.table_versions(host, src)[-1]
        commit.append_table_with_meta(
            host, src,
            spark.createDataFrame([(999, 1, 2)], "k long, a long, b long"),
            {},
        )
        assert zorder_compact(host, src, ["a", "b"], commit=commit) > 0
        delta = commit.read_changes(host, src, v0)
        assert [r.k for r in delta.collect()] == [999]

    def test_unmarked_rewrite_still_raises(self, spark, tmp_path):
        """A content-changing rewrite (no change metadata — the LWW
        compaction shape) must still force the resync path."""
        host, commit, src, _ = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, src)[-1]

        def write(tmp):
            commit.read_table(host, src, SCHEMA).limit(1).write.mode(
                "overwrite"
            ).parquet(tmp)

        commit.snapshot_rewrite(host, src, write)
        with pytest.raises(NonAppendHistoryError):
            commit.read_changes(host, src, v0)


class TestRowFeed:
    def test_merge_and_delete_emit_typed_rows(self, spark, tmp_path):
        host, commit, src, _ = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, src)[-1]
        merge_into(
            host, src, _df(spark, [(1, "A1"), (5, "e")]), ["k"],
            commit=commit,
        )
        delete_rows(
            host, src, spark.createDataFrame([(2,)], "k long"), ["k"],
            commit=commit,
        )
        changes = commit.read_row_changes(host, src, v0)
        got = sorted(
            (r.k, r.v, r[commit.CDF_TYPE_COL])
            for r in changes.collect()
        )
        assert got == [
            (1, "A1", "upsert"), (2, "b", "delete"), (5, "e", "upsert"),
        ]
        # versions are attached and ordered
        vs = {
            r.k: r[commit.CDF_VERSION_COL] for r in changes.collect()
        }
        assert vs[2] > vs[1]

    def test_inserts_and_preserve_compose(self, spark, tmp_path):
        host, commit, src, _ = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, src)[-1]
        commit.append_table_with_meta(
            host, src, _df(spark, [(3, "c")]).coalesce(1), {}
        )
        compact_small_files(host, src, commit=commit)
        merge_into(host, src, _df(spark, [(3, "C3")]), ["k"],
                   commit=commit)
        changes = commit.read_row_changes(host, src, v0)
        got = sorted(
            (r.k, r.v, r[commit.CDF_TYPE_COL])
            for r in changes.collect()
        )
        assert got == [(3, "C3", "upsert"), (3, "c", "insert")]

    def test_cdf_files_live_outside_the_table_and_self_expire(
        self, spark, tmp_path
    ):
        """Change files are referenced only by their entry's change
        metadata: invisible to table reads, retained by vacuum while
        the entry is retained, collected once it is pruned."""
        host, commit, src, _ = _fx(spark, tmp_path)
        merge_into(host, src, _df(spark, [(1, "A1")]), ["k"],
                   commit=commit)
        cdf_dir = f"{src}/{DATA_DIR}/~cdf"
        assert os.path.isdir(cdf_dir)
        n_cdf = sum(len(fs) for _, _, fs in os.walk(cdf_dir))
        assert n_cdf > 0
        # invisible to the table and to its member listing
        assert _rows(spark, host, commit, src) == [(1, "A1"), (2, "b")]
        assert all(
            "~cdf" not in f for f in commit.member_files(host, src)
        )
        # vacuum with full retention keeps them...
        commit.vacuum(host, src, grace_s=0)
        assert sum(len(fs) for _, _, fs in os.walk(cdf_dir)) == n_cdf
        # ...pruning the entry collects them
        for i in range(12):
            commit.append_table_with_meta(
                host, src, _df(spark, [(100 + i, "x")]).coalesce(1), {}
            )
        commit.vacuum(host, src, retain_versions=1, grace_s=0)
        assert sum(len(fs) for _, _, fs in os.walk(cdf_dir)) == 0

    def test_empty_range_returns_none(self, spark, tmp_path):
        host, commit, src, _ = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, src)[-1]
        assert commit.read_row_changes(host, src, v0) is None


class TestKeyedMirror:
    def test_maintenance_and_merge_mirror_without_resync(
        self, spark, tmp_path
    ):
        """The verdict's acceptance test: zorder_compact +
        compact_small_files + merge_into (+ a delete) on a mirrored
        source; the keyed mirror converges with O(delta) rows written
        and ZERO resyncs."""
        host, commit = CommitHost(spark), ManifestCommit()
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        sch = "k long, a long, v string"
        mk = lambda rows: spark.createDataFrame(rows, sch).coalesce(1)  # noqa: E731
        commit.append_table_with_meta(
            host, src, mk([(1, 10, "a"), (2, 20, "b")]), {}
        )
        m = mirror_changes(host, src, dst, keys=["k"], commit=commit)
        assert m.mode == "initial"

        commit.append_table_with_meta(
            host, src, mk([(3, 30, "c"), (4, 40, "d")]), {}
        )
        compact_small_files(host, src, commit=commit)
        assert zorder_compact(
            host, src, ["k", "a"], min_files=1, commit=commit
        ) > 0
        merge_into(
            host, src, mk([(1, 11, "A1"), (9, 90, "i")]), ["k"],
            commit=commit,
        )
        delete_rows(
            host, src, spark.createDataFrame([(2,)], "k long"), ["k"],
            commit=commit,
        )
        m = mirror_changes(host, src, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"
        assert m.rows_mirrored == 5  # 4 upserted keys + 1 deleted key

        def rows3(path):
            return sorted(
                (r.k, r.a, r.v)
                for r in commit.read_table(host, path, sch).collect()
            )

        assert rows3(dst) == rows3(src) == [
            (1, 11, "A1"), (3, 30, "c"), (4, 40, "d"), (9, 90, "i"),
        ]
        # steady state: noop, still no resync
        assert mirror_changes(
            host, src, dst, keys=["k"], commit=commit
        ).mode == "noop"

    def test_net_per_key_merge_then_delete_nets_to_delete(
        self, spark, tmp_path
    ):
        host, commit, src, dst = _fx(spark, tmp_path)
        mirror_changes(host, src, dst, keys=["k"], commit=commit)
        merge_into(host, src, _df(spark, [(7, "g")]), ["k"],
                   commit=commit)
        delete_rows(
            host, src, spark.createDataFrame([(7,), (1,)], "k long"),
            ["k"], commit=commit,
        )
        merge_into(host, src, _df(spark, [(1, "back")]), ["k"],
                   commit=commit)
        m = mirror_changes(host, src, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"
        assert _rows(spark, host, commit, dst) == _rows(
            spark, host, commit, src
        ) == [(1, "back"), (2, "b")]

    def test_crash_before_cursor_commit_replays_exactly_once(
        self, spark, tmp_path
    ):
        """Keyed applies are idempotent and the cursor commits last: a
        crash after the merge applied but before the cursor advanced
        replays to the identical mirror."""
        host, commit, src, dst = _fx(spark, tmp_path)
        mirror_changes(host, src, dst, keys=["k"], commit=commit)
        merge_into(host, src, _df(spark, [(1, "A1"), (3, "c")]), ["k"],
                   commit=commit)

        real = ManifestCommit.append_table_with_meta
        crash = {"armed": True}

        def crashy(self_, store, path_, df, app_meta, **kw):
            if crash["armed"] and path_ == dst and df is None:
                crash["armed"] = False
                raise RuntimeError("crash before cursor commit")
            return real(self_, store, path_, df, app_meta, **kw)

        ManifestCommit.append_table_with_meta = crashy
        try:
            with pytest.raises(RuntimeError):
                mirror_changes(host, src, dst, keys=["k"],
                               commit=commit)
        finally:
            ManifestCommit.append_table_with_meta = real
        # replay applies the same upserts again (idempotent) and
        # advances the cursor
        m = mirror_changes(host, src, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"
        assert _rows(spark, host, commit, dst) == [
            (1, "A1"), (2, "b"), (3, "c"),
        ]
        assert mirror_changes(
            host, src, dst, keys=["k"], commit=commit
        ).mode == "noop"

    def test_lww_compaction_still_resyncs(self, spark, tmp_path):
        """An unmarked content rewrite is the one case row-level
        consumption cannot express — the keyed mirror falls back to
        the full resync, never silently diverges."""
        host, commit, src, dst = _fx(spark, tmp_path)
        mirror_changes(host, src, dst, keys=["k"], commit=commit)

        def write(tmp):
            commit.read_table(host, src, SCHEMA).where(
                F.col("k") == 1
            ).write.mode("overwrite").parquet(tmp)

        commit.snapshot_rewrite(host, src, write)
        m = mirror_changes(host, src, dst, keys=["k"], commit=commit)
        assert m.mode == "resync"
        assert _rows(spark, host, commit, dst) == [(1, "a")]

    def test_transform_dropping_key_column_rejected(
        self, spark, tmp_path
    ):
        """transform composes with keys (r13), but one that drops a
        key column would make every apply silently match nothing —
        loud failure instead."""
        host, commit, src, dst = _fx(spark, tmp_path)
        with pytest.raises(ValidationError, match="key column"):
            mirror_changes(
                host, src, dst, keys=["k"],
                transform=lambda d: d.select("v"), commit=commit,
            )


class TestPartitionedSourceMirror:
    def test_keyed_mirror_over_hive_partitioned_source(
        self, spark, tmp_path
    ):
        """Merges on a hive-partitioned member write replacements in
        the partition layout but CDF files flat (partition values as
        data columns); the keyed mirror must reassemble both kinds
        into the same rows the source serves."""
        host, commit = CommitHost(spark), ManifestCommit()
        src, dst = str(tmp_path / "psrc"), str(tmp_path / "pdst")
        sch = "k long, tag string, v string"
        df = spark.createDataFrame(
            [(i, f"t{i % 3}", f"v{i}") for i in range(30)], sch
        ).coalesce(1)
        commit.append_partitioned(host, df, src, ["tag"])
        mirror_changes(host, src, dst, keys=["k"], commit=commit)

        merge_into(
            host, src,
            spark.createDataFrame(
                [(1, "t1", "M1"), (99, "t0", "new")], sch
            ),
            ["k"], commit=commit,
        )
        delete_rows(
            host, src, spark.createDataFrame([(2,)], "k long"),
            ["k"], commit=commit,
        )
        compact_small_files(host, src, commit=commit)
        m = mirror_changes(host, src, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"

        def rows(path):
            return sorted(
                (r.k, r.tag, r.v)
                for r in commit.read_table(host, path, sch).collect()
            )

        got_src, got_dst = rows(src), rows(dst)
        assert got_dst == got_src
        assert (1, "t1", "M1") in got_dst
        assert (99, "t0", "new") in got_dst
        assert all(k != 2 for k, _, _ in got_dst)


class TestFeedPredicates:
    """r12: data skipping INSIDE the change feed — an incremental
    consumer following one key band plans over only the delta files
    whose stats overlap it, from the stats the log entries already
    carry."""

    def _banded_source(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        src = str(tmp_path / "src")
        commit.append_table_with_meta(
            host, src, _df(spark, [(0, "seed")]).coalesce(1), {}
        )
        v0 = commit.table_versions(host, src)[-1]
        # two appends, each one tight-banded file
        commit.append_table_with_meta(
            host, src,
            _df(spark, [(10, "a"), (19, "b")]).coalesce(1), {},
        )
        commit.append_table_with_meta(
            host, src,
            _df(spark, [(1000, "c"), (1009, "d")]).coalesce(1), {},
        )
        return host, commit, src, v0

    def test_read_changes_skips_disjoint_added_files(
        self, spark, tmp_path
    ):
        host, commit, src, v0 = self._banded_source(spark, tmp_path)
        delta = commit.read_changes(
            host, src, v0, predicates={"k": (0, 100)}
        )
        assert len(delta.inputFiles()) == 1  # the 1000-band skipped
        assert sorted(r.k for r in delta.collect()) == [10, 19]
        # superset law: pruned+filtered == unpruned+filtered
        full = commit.read_changes(host, src, v0)
        assert sorted(
            r.k for r in full.where("k <= 100").collect()
        ) == [10, 19]

    def test_row_feed_skips_insert_files_but_reads_cdf(
        self, spark, tmp_path
    ):
        host, commit, src, v0 = self._banded_source(spark, tmp_path)
        merge_into(
            host, src, _df(spark, [(10, "A10")]), ["k"], commit=commit
        )
        changes = commit.read_row_changes(
            host, src, v0, predicates={"k": (0, 100)}
        )
        got = sorted(
            (r.k, r[commit.CDF_TYPE_COL]) for r in changes.collect()
        )
        # the 1000-band insert file was skipped at plan time; the
        # merge's CDF row still arrives (CDF files are read whole —
        # the caller's filter is mandatory as always)
        assert (10, "insert") in got and (19, "insert") in got
        assert (10, "upsert") in got
        assert all(k <= 100 for k, _ in got)


class TestKeyedMirrorTransform:
    """r13 (VERDICT r12 #6): transform composes with keys — a mirror
    can reshape (column subset, per-tenant filter) AND survive
    merges/deletes row-incrementally; a row the transform filters out
    is applied as a key delete."""

    SCH3 = "k long, v string, extra string"

    def _fx3(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        commit.append_table_with_meta(
            host, src,
            spark.createDataFrame(
                [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")], self.SCH3
            ).coalesce(1),
            {},
        )
        return host, commit, src, dst

    @staticmethod
    def _prune(d):
        return d.select("k", "v")

    def test_column_pruning_transform_through_merge_and_delete(
        self, spark, tmp_path
    ):
        host, commit, src, dst = self._fx3(spark, tmp_path)
        m0 = mirror_changes(
            host, src, dst, keys=["k"], transform=self._prune,
            commit=commit,
        )
        assert m0.mode == "initial"
        merge_into(
            host, src,
            spark.createDataFrame(
                [(1, "A1", "xx"), (9, "new", "w")], self.SCH3
            ),
            ["k"], commit=commit,
        )
        delete_rows(
            host, src, spark.createDataFrame([(2,)], "k long"),
            ["k"], commit=commit,
        )
        compact_small_files(host, src, commit=commit)
        m1 = mirror_changes(
            host, src, dst, keys=["k"], transform=self._prune,
            commit=commit,
        )
        assert m1.mode == "row-incremental"
        got = commit.read_table(host, dst, "k long, v string")
        assert sorted(got.columns) == ["k", "v"]
        assert sorted((r.k, r.v) for r in got.collect()) == [
            (1, "A1"), (3, "c"), (9, "new"),
        ]
        assert mirror_changes(
            host, src, dst, keys=["k"], transform=self._prune,
            commit=commit,
        ).mode == "noop"

    def test_filtering_transform_deletes_rows_leaving_the_subset(
        self, spark, tmp_path
    ):
        host, commit, src, dst = _fx(spark, tmp_path)  # (1,a),(2,b)
        keep = lambda d: d.where(F.col("v") != "hidden")  # noqa: E731
        mirror_changes(
            host, src, dst, keys=["k"], transform=keep, commit=commit
        )
        # key 2's new version leaves the filtered subset; key 5 enters
        merge_into(
            host, src, _df(spark, [(2, "hidden"), (5, "vis")]),
            ["k"], commit=commit,
        )
        m = mirror_changes(
            host, src, dst, keys=["k"], transform=keep, commit=commit
        )
        assert m.mode == "row-incremental"
        assert _rows(spark, host, commit, dst) == [(1, "a"), (5, "vis")]
        # and re-entry works too
        merge_into(host, src, _df(spark, [(2, "back")]), ["k"],
                   commit=commit)
        mirror_changes(
            host, src, dst, keys=["k"], transform=keep, commit=commit
        )
        assert _rows(spark, host, commit, dst) == [
            (1, "a"), (2, "back"), (5, "vis"),
        ]

    def test_transformed_keyed_mirror_replays_exactly_once(
        self, spark, tmp_path
    ):
        host, commit, src, dst = self._fx3(spark, tmp_path)
        mirror_changes(
            host, src, dst, keys=["k"], transform=self._prune,
            commit=commit,
        )
        merge_into(
            host, src,
            spark.createDataFrame([(1, "A1", "q")], self.SCH3),
            ["k"], commit=commit,
        )
        real = ManifestCommit.append_table_with_meta
        crash = {"armed": True}

        def crashy(self_, store, path_, df, app_meta, **kw):
            if crash["armed"] and path_ == dst and df is None:
                crash["armed"] = False
                raise RuntimeError("crash before cursor commit")
            return real(self_, store, path_, df, app_meta, **kw)

        ManifestCommit.append_table_with_meta = crashy
        try:
            with pytest.raises(RuntimeError):
                mirror_changes(
                    host, src, dst, keys=["k"], transform=self._prune,
                    commit=commit,
                )
        finally:
            ManifestCommit.append_table_with_meta = real
        m = mirror_changes(
            host, src, dst, keys=["k"], transform=self._prune,
            commit=commit,
        )
        assert m.mode == "row-incremental"
        got = commit.read_table(host, dst, "k long, v string")
        assert sorted((r.k, r.v) for r in got.collect()) == [
            (1, "A1"), (2, "b"), (3, "c"),
        ]
