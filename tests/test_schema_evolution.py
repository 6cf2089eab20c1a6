"""Schema evolution beyond additive (VERDICT r12 #7): rename is a
metadata-only logical column mapping on the manifest backend (physical
file schemas never change — the Delta column-mapping idiom), widen
(int->long, float->double) is a read-side cast with stats staying
kind-comparable; the directory backend degrades to an eager rewrite.
Skipping stays superset-safe across the mapping; appends translate
logical -> physical so files stay physically consistent; row-level
rewrites work THROUGH the mapping (r14: plan logical, stage physical),
and reusing a dropped column name remints a synthetic physical id."""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.commit import (
    CommitHost,
    LOG_DIR,
    ManifestCommit,
    ParquetLeaseCommit,
)
from redis_lsm_timeseries_spark.errors import ValidationError

SCHEMA = "k long, v int, name string"


def _mfx(spark, tmp_path):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / "t")
    commit.append_table_with_meta(
        host, path,
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], SCHEMA
        ).coalesce(1),
        {},
    )
    return host, commit, path


class TestManifestRename:
    def test_rename_is_metadata_only_and_reads_new_name(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        files_before = commit.member_files(host, path)
        v_before = commit.table_versions(host, path)[-1]
        commit.rename_column(host, path, "v", "score")
        # zero data files touched; exactly one metadata entry
        assert commit.member_files(host, path) == files_before
        assert commit.table_versions(host, path)[-1] == v_before + 1
        df = commit.read_table(host, path, None)
        assert sorted(df.columns) == ["k", "name", "score"]
        assert sorted((r.k, r.score) for r in df.collect()) == [
            (1, 10), (2, 20),
        ]

    def test_time_travel_sees_the_name_as_of_that_version(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        commit.rename_column(host, path, "v", "score")
        old = commit.read_table(host, path, None, version=v0)
        assert "v" in old.columns and "score" not in old.columns

    def test_appends_after_rename_use_logical_names(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        commit.rename_column(host, path, "v", "score")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(3, 30, "c")], "k long, score int, name string"
            ).coalesce(1),
            {},
        )
        df = commit.read_table(host, path, None)
        assert sorted((r.k, r.score) for r in df.collect()) == [
            (1, 10), (2, 20), (3, 30),
        ]
        # and a second rename stacks on the same physical name
        commit.rename_column(host, path, "score", "points")
        df2 = commit.read_table(host, path, None)
        assert sorted((r.k, r.points) for r in df2.collect()) == [
            (1, 10), (2, 20), (3, 30),
        ]

    def test_requested_schema_casts_and_null_fills_across_mapping(
        self, spark, tmp_path
    ):
        """The additive-evolution contract survives the mapping: a
        requested schema casts present columns and null-fills new
        ones."""
        host, commit, path = _mfx(spark, tmp_path)
        commit.rename_column(host, path, "v", "score")
        df = commit.read_table(
            host, path, "k long, score long, extra string"
        )
        rows = sorted((r.k, r.score, r.extra) for r in df.collect())
        assert rows == [(1, 10, None), (2, 20, None)]
        assert dict(df.dtypes)["score"] == "bigint"

    def test_skipping_prunes_under_the_logical_name(
        self, spark, tmp_path
    ):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "banded")
        for lo in (0, 1000):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame(
                    [(lo + i, lo + i, "x") for i in range(5)], SCHEMA
                ).coalesce(1),
                {},
            )
        commit.rename_column(host, path, "v", "score")
        kept, total = commit.prune_files(host, path, {"score": (0, 10)})
        assert total == 2 and len(kept) == 1
        df = commit.read_table_pruned(
            host, path, predicates={"score": (0, 10)}
        ).where("score <= 10")
        assert sorted(r.score for r in df.collect()) == [0, 1, 2, 3, 4]

    def test_rename_validations(self, spark, tmp_path):
        host, commit, path = _mfx(spark, tmp_path)
        with pytest.raises(ValidationError, match="not in"):
            commit.rename_column(host, path, "nope", "x")
        with pytest.raises(ValidationError, match="already exists"):
            commit.rename_column(host, path, "v", "name")

    def test_partition_column_rename_refused(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "part")
        commit.append_partitioned(
            host,
            spark.createDataFrame([(1, 10, "a")], SCHEMA),
            path, ["name"],
        )
        with pytest.raises(ValidationError, match="partition"):
            commit.rename_column(host, path, "name", "label")


class TestManifestWiden:
    def test_widen_int_to_long_reads_and_writes_wide(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        commit.widen_column(host, path, "v", "long")
        df = commit.read_table(host, path, None)
        assert dict(df.dtypes)["v"] == "bigint"
        # a value past int32 now lands (new files store wide)
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(3, 5_000_000_000, "c")], "k long, v long, name string"
            ).coalesce(1),
            {},
        )
        got = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got == [(1, 10), (2, 20), (3, 5_000_000_000)]

    def test_widen_then_rename_compose(self, spark, tmp_path):
        host, commit, path = _mfx(spark, tmp_path)
        commit.widen_column(host, path, "v", "long")
        commit.rename_column(host, path, "v", "score")
        df = commit.read_table(host, path, None)
        assert dict(df.dtypes)["score"] == "bigint"
        # skipping on the renamed+widened column stays superset-safe
        kept, total = commit.prune_files(
            host, path, {"score": (15, 25)}
        )
        assert total == 1 and kept  # single file overlaps: kept
        assert sorted(
            r.score for r in commit.read_table(host, path, None)
            .where("score between 15 and 25").collect()
        ) == [20]

    def test_widen_rejects_unknown_type(self, spark, tmp_path):
        host, commit, path = _mfx(spark, tmp_path)
        with pytest.raises(ValidationError, match="to_type"):
            commit.widen_column(host, path, "v", "string")


class TestMappedRowLevelRewrites:
    """r14: merge/delete/Z-order work THROUGH the column mapping —
    plan in the logical view, stage replacement + CDF files under the
    immutable physical names (VERDICT r13 #1; the refusal this class
    used to pin is gone)."""

    def test_merge_after_rename_updates_and_inserts(
        self, spark, tmp_path
    ):
        from redis_lsm_timeseries_spark.operators.merge import merge_into

        host, commit, path = _mfx(spark, tmp_path)
        commit.rename_column(host, path, "v", "score")
        stats = merge_into(
            host, path,
            spark.createDataFrame(
                [(1, 99, "z"), (7, 70, "g")],
                "k long, score int, name string",
            ),
            ["k"], commit=commit,
        )
        assert stats.rows_upserted == 2
        got = sorted(
            (r.k, r.score, r.name)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got == [(1, 99, "z"), (2, 20, "b"), (7, 70, "g")]
        # the files stay PHYSICAL-named: a raw footer never shows the
        # logical name, and a later rename still composes
        commit.rename_column(host, path, "score", "points")
        assert sorted(
            (r.k, r.points)
            for r in commit.read_table(host, path, None).collect()
        ) == [(1, 99), (2, 20), (7, 70)]

    def test_merge_after_rename_skipping_still_prunes(
        self, spark, tmp_path
    ):
        """A merge into one key band of a renamed member rewrites only
        the files whose stats overlap it."""
        from redis_lsm_timeseries_spark.operators.merge import merge_into

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "banded")
        for lo in (0, 1000):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame(
                    [(lo + i, lo + i, "x") for i in range(5)], SCHEMA
                ).coalesce(1),
                {},
            )
        commit.rename_column(host, path, "v", "score")
        stats = merge_into(
            host, path,
            spark.createDataFrame(
                [(1001, -1, "y")], "k long, score int, name string"
            ),
            ["k"], commit=commit,
        )
        assert stats.files_rewritten == 1 and stats.files_total == 2
        df = commit.read_table(host, path, None)
        assert df.where("k = 1001").first().score == -1
        assert df.count() == 10

    def test_delete_after_drop(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.operators.merge import delete_rows

        host, commit, path = _mfx(spark, tmp_path)
        commit.drop_column(host, path, "v")
        stats = delete_rows(
            host, path,
            spark.createDataFrame([(1,)], "k long"), ["k"],
            commit=commit,
        )
        assert stats.files_rewritten == 1
        got = sorted(
            (r.k, r.name)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got == [(2, "b")]

    def test_zorder_after_widen_mixed_width_files(self, spark, tmp_path):
        """zorder_compact on a renamed+widened member clusters narrow
        and wide generations in one pass and stays content-identical
        in the logical view."""
        from redis_lsm_timeseries_spark.operators.zorder import (
            zorder_compact,
        )

        host, commit, path = _mfx(spark, tmp_path)
        commit.widen_column(host, path, "v", "long")
        commit.rename_column(host, path, "v", "score")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(3, 5_000_000_000, "c")], "k long, score long, name string"
            ).coalesce(1),
            {},
        )
        before = sorted(
            (r.k, r.score, r.name)
            for r in commit.read_table(host, path, None).collect()
        )
        n = zorder_compact(
            host, path, ["k", "score"], min_files=2, commit=commit
        )
        assert n == 2
        after = sorted(
            (r.k, r.score, r.name)
            for r in commit.read_table(host, path, None).collect()
        )
        assert after == before
        # logical-name validation still guards typos (needs a fresh
        # unclustered file — an empty tail short-circuits)
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(9, 9, "i")], "k long, score long, name string"
            ).coalesce(1),
            {},
        )
        with pytest.raises(ValidationError, match="no column"):
            zorder_compact(
                host, path, ["nope"], min_files=1, commit=commit
            )

    def test_keyed_mirror_consumes_mapped_merge_cdf(
        self, spark, tmp_path
    ):
        """The CDF a mapped merge stages serves the logical view, and
        a keyed mirror applies it row-incrementally (VERDICT r13 #1
        'Done =' clause)."""
        from redis_lsm_timeseries_spark.changefeed import mirror_changes
        from redis_lsm_timeseries_spark.operators.merge import (
            delete_rows,
            merge_into,
        )

        host, commit, path = _mfx(spark, tmp_path)
        commit.rename_column(host, path, "v", "score")
        dst = str(tmp_path / "m")
        m0 = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m0.mode == "initial"
        v0 = commit.table_versions(host, path)[-1]
        merge_into(
            host, path,
            spark.createDataFrame(
                [(2, -2, "bb"), (8, 80, "h")],
                "k long, score int, name string",
            ),
            ["k"], commit=commit,
        )
        delete_rows(
            host, path,
            spark.createDataFrame([(1,)], "k long"), ["k"],
            commit=commit,
        )
        changes = commit.read_row_changes(host, path, v0)
        assert "score" in changes.columns and "v" not in changes.columns
        m1 = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m1.mode == "row-incremental" and m1.rows_mirrored == 3
        assert sorted(
            (r.k, r.score, r.name)
            for r in commit.read_table(host, dst, None).collect()
        ) == [(2, -2, "bb"), (8, 80, "h")]

    def test_merge_after_widen_stores_wide(self, spark, tmp_path):
        """A merge into a widened member casts its replacement files
        to the widened physical type, and a source value past the
        narrow type's range round-trips."""
        from redis_lsm_timeseries_spark.operators.merge import merge_into

        host, commit, path = _mfx(spark, tmp_path)
        commit.widen_column(host, path, "v", "long")
        merge_into(
            host, path,
            spark.createDataFrame(
                [(1, 7_000_000_000, "aa")], "k long, v long, name string"
            ),
            ["k"], commit=commit,
        )
        got = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got == [(1, 7_000_000_000), (2, 20)]
        assert dict(
            commit.read_table(host, path, None).dtypes
        )["v"] == "bigint"

    def test_compact_small_files_after_widen(self, spark, tmp_path):
        """compact_small_files folds mixed-width generations of a
        widened member without footer-inference failures."""
        from redis_lsm_timeseries_spark.maintenance import (
            compact_small_files,
        )

        host, commit, path = _mfx(spark, tmp_path)
        commit.widen_column(host, path, "v", "long")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(4, 6_000_000_000, "d")], "k long, v long, name string"
            ).coalesce(1),
            {},
        )
        before = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, None).collect()
        )
        st = compact_small_files(host, path, commit=commit)
        assert st.groups == 1 and st.files_compacted == 2
        after = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, None).collect()
        )
        assert after == before

    def test_physical_maintenance_still_allowed(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.maintenance import (
            compact_small_files,
        )

        host, commit, path = _mfx(spark, tmp_path)
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame([(3, 30, "c")], SCHEMA).coalesce(1),
            {},
        )
        commit.rename_column(host, path, "v", "score")
        before = sorted(
            (r.k, r.score)
            for r in commit.read_table(host, path, None).collect()
        )
        compact_small_files(host, path, commit=commit)
        after = sorted(
            (r.k, r.score)
            for r in commit.read_table(host, path, None).collect()
        )
        assert after == before


class TestDirectoryBackend:
    def test_eager_rename_and_widen_round_trip(self, spark, tmp_path):
        host, commit = CommitHost(spark), ParquetLeaseCommit()
        path = str(tmp_path / "d")
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], SCHEMA
        ).coalesce(1).write.parquet(path)
        commit.rename_column(host, path, "v", "score")
        commit.widen_column(host, path, "score", "long")
        df = commit.read_table(host, path, None)
        assert dict(df.dtypes)["score"] == "bigint"
        assert sorted((r.k, r.score) for r in df.collect()) == [
            (1, 10), (2, 20),
        ]

    def test_merge_and_delete_after_eager_evolution(
        self, spark, tmp_path
    ):
        """The directory backend materializes rename/drop eagerly, so
        row-level rewrites afterwards run on the already-evolved
        physical schema — the 'both backends' leg of the r14 merge/
        delete-through-evolution contract."""
        from redis_lsm_timeseries_spark.operators.merge import (
            delete_rows,
            merge_into,
        )

        host, commit = CommitHost(spark), ParquetLeaseCommit()
        path = str(tmp_path / "d2")
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], SCHEMA
        ).coalesce(1).write.parquet(path)
        commit.rename_column(host, path, "v", "score")
        merge_into(
            host, path,
            spark.createDataFrame(
                [(1, 99, "z"), (7, 70, "g")],
                "k long, score int, name string",
            ),
            ["k"], commit=commit,
        )
        assert sorted(
            (r.k, r.score)
            for r in commit.read_table(host, path, None).collect()
        ) == [(1, 99), (2, 20), (7, 70)]
        delete_rows(
            host, path,
            spark.createDataFrame([(2,)], "k long"), ["k"],
            commit=commit,
        )
        assert sorted(
            r.k for r in commit.read_table(host, path, None).collect()
        ) == [1, 7]


class TestMetadataReadsAcrossMapping:
    def test_fast_count_and_min_max_translate_logical_names(
        self, spark, tmp_path
    ):
        from redis_lsm_timeseries_spark.maintenance import (
            fast_count,
            fast_min_max,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        # per-name commits -> point stats on the 'name' column, so
        # the filtered count can prove all-or-none per file
        for nm, vals in (("a", [(1, 10)]), ("b", [(2, 20), (3, 30)])):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame(
                    [(k, v, nm) for k, v in vals], SCHEMA
                ).coalesce(1),
                {},
            )
        commit.rename_column(host, path, "v", "score")
        commit.rename_column(host, path, "name", "label")
        assert fast_count(host, path, commit=commit) == 3
        assert fast_count(
            host, path, {"label": {"b"}}, commit=commit
        ) == 2
        assert fast_min_max(host, path, "score", commit=commit) == (
            10, 30,
        )


class TestManifestDrop:
    def test_drop_is_metadata_only_and_hides_the_column(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        files_before = commit.member_files(host, path)
        commit.drop_column(host, path, "v")
        assert commit.member_files(host, path) == files_before
        df = commit.read_table(host, path, None)
        assert sorted(df.columns) == ["k", "name"]
        # appends without the column read back fine
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame([(3, "c")], "k long, name string")
            .coalesce(1),
            {},
        )
        assert sorted(
            (r.k, r.name)
            for r in commit.read_table(host, path, None).collect()
        ) == [(1, "a"), (2, "b"), (3, "c")]
        # time travel before the drop still shows the column
        v0 = commit.table_versions(host, path)[0]
        assert "v" in commit.read_table(
            host, path, None, version=v0
        ).columns

    def test_reusing_a_dropped_name_remints_a_physical_id(
        self, spark, tmp_path
    ):
        """r14 (VERDICT r13 #5): drop -> re-add round-trips. The
        re-add mints a synthetic physical name, old files read the new
        column as NULL (their old bytes stay hidden), new files read
        their values, and skipping stays superset-safe."""
        host, commit, path = _mfx(spark, tmp_path)
        commit.drop_column(host, path, "v")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame([(9, 99, "z")], SCHEMA).coalesce(1),
            {},
        )
        df = commit.read_table(host, path, None)
        assert sorted(df.columns) == ["k", "name", "v"]
        got = sorted(
            (r.k, r.v, r.name) for r in df.collect()
        )
        # pre-re-add rows: v is NULL (never the dropped bytes 10/20)
        assert got == [(1, None, "a"), (2, None, "b"), (9, 99, "z")]
        # the mapping is id-based: the physical name is synthetic
        meta = commit.schema_meta(host, path)
        assert meta["map"]["v"].startswith("v__r")
        assert meta["map"]["v"] in meta["phys_types"]
        # skipping on the re-added column translates and stays
        # superset-safe (old files keep no stats for the new id)
        kept, total = commit.prune_files(host, path, {"v": (99, 99)})
        assert total == 2 and len(kept) >= 1
        assert (
            commit.read_table_pruned(host, path, predicates={"v": (99, 99)})
            .where("v = 99").count() == 1
        )
        # a second drop -> re-add mints ANOTHER id
        commit.drop_column(host, path, "v")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame([(11, 111, "q")], SCHEMA).coalesce(1),
            {},
        )
        meta2 = commit.schema_meta(host, path)
        assert meta2["map"]["v"] != meta["map"]["v"]
        got2 = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got2 == [(1, None), (2, None), (9, None), (11, 111)]
        # renaming an EXISTING column onto a dropped name still
        # refuses (only brand-new columns remint)
        with pytest.raises(ValidationError, match="dropped"):
            commit.rename_column(host, path, "name", "v__r2")

    def test_new_column_colliding_with_a_physical_target_refuses(
        self, spark, tmp_path
    ):
        """A brand-new logical column whose name equals an existing
        column's PHYSICAL name would alias two logical columns onto
        one physical — loud refusal."""
        host, commit, path = _mfx(spark, tmp_path)
        commit.rename_column(host, path, "v", "score")
        with pytest.raises(ValidationError, match="PHYSICAL"):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame(
                    [(9, 1, 2, "z")],
                    "k long, v int, score int, name string",
                ).coalesce(1),
                {},
            )

    def test_merge_into_reminted_column_round_trips(
        self, spark, tmp_path
    ):
        """Row-level rewrites compose with the reminted id: a merge
        keyed on k updates the re-added column through the synthetic
        physical name."""
        from redis_lsm_timeseries_spark.operators.merge import merge_into

        host, commit, path = _mfx(spark, tmp_path)
        commit.drop_column(host, path, "v")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame([(9, 99, "z")], SCHEMA).coalesce(1),
            {},
        )
        merge_into(
            host, path,
            spark.createDataFrame([(9, -9, "zz"), (1, 1, "aa")], SCHEMA),
            ["k"], commit=commit,
        )
        got = sorted(
            (r.k, r.v, r.name)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got == [(1, 1, "aa"), (2, None, "b"), (9, -9, "zz")]

    def test_drop_composes_with_rename(self, spark, tmp_path):
        host, commit, path = _mfx(spark, tmp_path)
        commit.rename_column(host, path, "v", "score")
        commit.drop_column(host, path, "score")
        df = commit.read_table(host, path, None)
        assert sorted(df.columns) == ["k", "name"]

    def test_drop_validations(self, spark, tmp_path):
        host, commit, path = _mfx(spark, tmp_path)
        with pytest.raises(ValidationError, match="not in"):
            commit.drop_column(host, path, "nope")

    def test_directory_backend_drops_eagerly(self, spark, tmp_path):
        host, commit = CommitHost(spark), ParquetLeaseCommit()
        path = str(tmp_path / "d")
        spark.createDataFrame(
            [(1, 10, "a")], SCHEMA
        ).coalesce(1).write.parquet(path)
        commit.drop_column(host, path, "v")
        assert sorted(
            commit.read_table(host, path, None).columns
        ) == ["k", "name"]


class TestFeedsAcrossMapping:
    def test_change_feeds_serve_the_logical_view(self, spark, tmp_path):
        """A mapped member's feeds serve the CURRENT logical view —
        same columns a read_table consumer sees — including inserts
        appended BEFORE the rename and historical CDF files."""
        from redis_lsm_timeseries_spark.changefeed import mirror_changes
        from redis_lsm_timeseries_spark.operators.merge import merge_into

        host, commit, path = _mfx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        # a historical merge leaves CDF files with the OLD name
        merge_into(
            host, path,
            spark.createDataFrame([(1, 99, "z")], SCHEMA),
            ["k"], commit=commit,
        )
        commit.rename_column(host, path, "v", "score")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(5, 50, "e")], "k long, score int, name string"
            ).coalesce(1),
            {},
        )
        changes = commit.read_row_changes(host, path, v0)
        assert "score" in changes.columns and "v" not in changes.columns
        got = sorted(
            (r.k, r.score, r[commit.CDF_TYPE_COL])
            for r in changes.collect()
        )
        assert (1, 99, "upsert") in got and (5, 50, "insert") in got
        # and a keyed mirror over the mapped member stays incremental
        dst = str(tmp_path / "m")
        m0 = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m0.mode == "initial"
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(6, 60, "f")], "k long, score int, name string"
            ).coalesce(1),
            {},
        )
        m1 = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m1.mode == "row-incremental" and m1.rows_mirrored == 1
        assert sorted(
            (r.k, r.score)
            for r in commit.read_table(
                host, dst, "k long, score int, name string"
            ).collect()
        ) == [(1, 99), (2, 20), (5, 50), (6, 60)]


class TestReviewR13Fixes:
    """Adversarial-review findings, pinned (round 13 self-review)."""

    def test_widen_refuses_lossy_and_non_numeric_sources(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        with pytest.raises(ValidationError, match="corrupt"):
            commit.widen_column(host, path, "name", "long")  # string
        with pytest.raises(ValidationError, match="corrupt"):
            commit.widen_column(host, path, "k", "double")  # bigint
        commit.widen_column(host, path, "v", "long")  # int -> ok
        commit.widen_column(host, path, "v", "long")  # idempotent

    def test_pruned_time_travel_sees_the_mapping_as_of_version(
        self, spark, tmp_path
    ):
        host, commit, path = _mfx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        commit.rename_column(host, path, "v", "score")
        old = commit.read_table_pruned(
            host, path, predicates={"v": (0, 100)}, version=v0
        )
        assert "v" in old.columns and "score" not in old.columns

    def test_feed_survives_mixed_width_files_after_widen(
        self, spark, tmp_path
    ):
        """read_changes/read_row_changes over a widen boundary scan
        narrow and wide files in one pass (forced schema), instead of
        failing on whichever footer inference did not sample."""
        host, commit, path = _mfx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        # a second NARROW file lands before the widen, so the feed
        # range (v0, latest] genuinely mixes int32 and int64 files
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame([(9, 90, "n")], SCHEMA).coalesce(1),
            {},
        )
        commit.widen_column(host, path, "v", "long")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(3, 5_000_000_000, "c")], "k long, v long, name string"
            ).coalesce(1),
            {},
        )
        delta = commit.read_changes(host, path, v0)
        assert sorted((r.k, r.v) for r in delta.collect()) == [
            (3, 5_000_000_000), (9, 90),
        ]
        assert dict(delta.dtypes)["v"] == "bigint"
        rows = commit.read_row_changes(host, path, v0)
        got = sorted((r.k, r.v) for r in rows.collect())
        assert got == [(3, 5_000_000_000), (9, 90)]

    def test_broken_preexisting_anchor_is_repaired_before_prune(
        self, spark, tmp_path
    ):
        """Vacuum must load-verify even a PRE-EXISTING checkpoint at
        the cut — a manifest whose part vanished is repaired from the
        validated state, never trusted by existence alone."""
        import json
        import os

        from redis_lsm_timeseries_spark.commit import (
            CHECKPOINT_SUFFIX,
            LOG_DIR,
            PARTS_DIR,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        commit._target_for_write(host, path)
        for i in range(25):
            commit._commit(
                host, path,
                (lambda i: lambda t: {
                    **t, "": t.get("", []) + [f"f{i}.parquet"]
                })(i),
            )
        # break the checkpoint at v20 by deleting its part
        m = json.loads(
            open(f"{path}/{LOG_DIR}/{20:020d}{CHECKPOINT_SUFFIX}").read()
        )
        os.remove(f"{path}/{LOG_DIR}/{PARTS_DIR}/{m['parts']['']}.json")
        commit.vacuum(host, path, retain_versions=3, grace_s=0)
        # the anchor at the cut reconstructs (repaired), and every
        # retained version still reads
        for v in commit.table_versions(host, path):
            files = commit.member_files(host, path, version=v)
            assert files == [f"f{i}.parquet" for i in range(v + 1)]

    def test_checkpoint_selfcheck_removes_broken_manifest(
        self, spark, tmp_path, monkeypatch
    ):
        """A checkpoint writer whose reused part is GC'd between touch
        and manifest write must not leave an exists-but-unloadable
        checkpoint behind (it would shadow the entry chain as a prune
        anchor)."""
        import os

        from redis_lsm_timeseries_spark.commit import (
            CHECKPOINT_SUFFIX,
            LOG_DIR,
            ManifestCommit as MC,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        commit._target_for_write(host, path)
        for i in range(10):
            commit._commit(
                host, path,
                (lambda i: lambda t: {
                    **t, "": t.get("", []) + [f"f{i}.parquet"]
                })(i),
            )
        real = MC._load_checkpoint
        armed = {"on": True}

        def sabotaged(self_, store, root, v):
            out = real(self_, store, root, v)
            if armed["on"] and v == 20:
                armed["on"] = False
                raise OSError("part vanished under the self-check")
            return out

        monkeypatch.setattr(MC, "_load_checkpoint", sabotaged)
        # the 20th commit triggers the interval checkpoint whose
        # self-check fails -> the broken manifest must be removed
        for i in range(10, 21):
            commit._commit(
                host, path,
                (lambda i: lambda t: {
                    **t, "": t.get("", []) + [f"f{i}.parquet"]
                })(i),
            )
        cp20 = f"{path}/{LOG_DIR}/{20:020d}{CHECKPOINT_SUFFIX}"
        assert not os.path.exists(cp20)
        assert commit.member_files(host, path) == [
            f"f{i}.parquet" for i in range(21)
        ]


class TestMappedEquivalence:
    def test_mapped_and_plain_members_agree_under_mutation_sequence(
        self, spark, tmp_path
    ):
        """Differential pin for the r14 mapping-aware rewrites: one
        deterministic append/merge/delete/compact/zorder
        sequence applied to (a) a plain member and (b) a renamed+
        widened member must leave IDENTICAL logical tables after every
        step — the mapping is invisible to semantics, only to file
        bytes."""
        from redis_lsm_timeseries_spark.maintenance import (
            compact_small_files,
        )
        from redis_lsm_timeseries_spark.operators.merge import (
            delete_rows,
            merge_into,
        )
        from redis_lsm_timeseries_spark.operators.zorder import (
            zorder_compact,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        plain = str(tmp_path / "plain")
        mapped = str(tmp_path / "mapped")
        seed = spark.createDataFrame(
            [(i, i * 10, f"n{i % 3}") for i in range(20)], SCHEMA
        ).coalesce(2)
        for p in (plain, mapped):
            commit.append_table_with_meta(host, p, seed, {})
        commit.widen_column(host, mapped, "v", "long")
        commit.rename_column(host, mapped, "v", "score")

        def logical(p):
            df = commit.read_table(
                host, p, "k long, v long, name string"
                if p == plain
                else "k long, score long, name string"
            )
            cols = ["k", "v" if p == plain else "score", "name"]
            return sorted(tuple(r[c] for c in cols) for r in df.collect())

        def check(step):
            assert logical(plain) == logical(mapped), f"diverged at {step}"

        # 1: merge (update + insert); source types must MATCH the
        # member's logical schema (plain stores int, the mapped member
        # widened to long — the type-enforcement this test surfaced)
        for p, vcol, t in ((plain, "v", "int"), (mapped, "score", "long")):
            merge_into(
                host, p,
                spark.createDataFrame(
                    [(3, -3, "zz"), (25, 250, "new")],
                    f"k long, {vcol} {t}, name string",
                ),
                ["k"], commit=commit,
            )
        check("merge")
        # 2: keyed delete
        for p in (plain, mapped):
            delete_rows(
                host, p,
                spark.createDataFrame([(5,), (7,)], "k long"), ["k"],
                commit=commit,
            )
        check("delete_rows")
        # 3: physical maintenance (content-identical)
        for p in (plain, mapped):
            compact_small_files(host, p, commit=commit)
        check("compact")
        for p, cols in ((plain, ["k", "v"]), (mapped, ["k", "score"])):
            zorder_compact(host, p, cols, min_files=1, commit=commit)
        check("zorder")
        # 4: conditional merge (matched-delete clause)
        for p, vcol, t in ((plain, "v", "int"), (mapped, "score", "long")):
            merge_into(
                host, p,
                spark.createDataFrame(
                    [(2, 0, "x"), (4, 0, "x")],
                    f"k long, {vcol} {t}, name string",
                ),
                ["k"], commit=commit,
                when_matched="delete", insert_unmatched=False,
            )
        check("conditional_merge_delete")
        # the hazard this test surfaced is now a loud refusal: a
        # wider-typed source cannot write mixed-width files
        with pytest.raises(ValidationError, match="widen_column"):
            merge_into(
                host, plain,
                spark.createDataFrame(
                    [(1, 1, "q")], "k long, v long, name string"
                ),
                ["k"], commit=commit,
            )
