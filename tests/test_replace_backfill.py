"""``replace_range`` (atomic replaceWhere) and ``backfill_file_stats``
(retrofit skipping stats via the restat op) — round 14.

replace_range is the backfill/restatement primitive: "recompute this
key band and swap it in" as ONE commit — a delete + append would
expose a gap between two entries. backfill_file_stats is the second
life of the restat delta op: files committed without stats (pre-stats
history, transient footer failures) regain data skipping, fast_count,
and compaction planning without a byte of data moving."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.changefeed import mirror_changes
from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.maintenance import (
    backfill_file_stats,
    fast_count,
)
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    replace_range,
)

SCHEMA = "id long, v long"


def _fx(spark, tmp_path):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        commit.append_tables(
            host, path,
            {"": spark.range(lo, lo + 100)
             .selectExpr("id", "id * 2 AS v").coalesce(1)},
        )
    return host, commit, path


def _ids(spark, vals):
    return spark.createDataFrame([(int(i),) for i in vals], "id long")


class TestReplaceRange:
    def test_swaps_a_band_in_one_commit(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        before_files = set(commit.member_files(host, path))
        v0 = commit.table_versions(host, path)[-1]
        # recompute the middle band: fewer rows, different values
        new = spark.range(100, 150).selectExpr("id", "id * 100 AS v")
        st = replace_range(
            host, path, new, "id", lo=100, hi=199, commit=commit
        )
        assert st.files_rewritten == 1 and st.files_total == 3
        # exactly ONE commit landed
        assert commit.table_versions(host, path)[-1] == v0 + 1
        cur = commit.read_table(host, path)
        assert cur.count() == 250
        assert cur.where(F.col("id").between(150, 199)).isEmpty()
        assert cur.where("id = 120").first()["v"] == 12_000
        assert cur.where("id = 50").first()["v"] == 100
        # exactly the two untouched files carried over; the affected
        # one was replaced
        after = set(commit.member_files(host, path))
        assert len(before_files & after) == 2

    def test_partial_overlap_carries_survivors(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        new = spark.createDataFrame([(95, -1), (105, -2)], SCHEMA)
        replace_range(host, path, new, "id", lo=90, hi=110, commit=commit)
        cur = commit.read_table(host, path)
        assert cur.count() == 300 - 21 + 2
        assert cur.where("id = 89").first()["v"] == 178
        assert cur.where("id = 111").first()["v"] == 222
        assert cur.where("id = 95").first()["v"] == -1
        assert cur.where(F.col("id").isin(90, 100, 110)).isEmpty()

    def test_stray_source_row_refused(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        stray = spark.createDataFrame([(500, 0)], SCHEMA)
        with pytest.raises(ValidationError, match="outside"):
            replace_range(
                host, path, stray, "id", lo=0, hi=99, commit=commit
            )

    def test_keyed_mirror_nets_replacement_not_delete(
        self, spark, tmp_path
    ):
        """The same-version delete+upsert hazard: the replaced row's
        NEW value is SMALLER than the old one, so content-first
        netting would pick the delete — the mirror must keep the
        replacement."""
        host, commit, path = _fx(spark, tmp_path)
        dst = str(tmp_path / "dst")
        mirror_changes(host, path, dst, keys=["id"], commit=commit)
        new = spark.range(100, 150).selectExpr("id", "id AS v")  # v SHRINKS
        replace_range(
            host, path, new, "id", lo=100, hi=199, commit=commit
        )
        m = mirror_changes(host, path, dst, keys=["id"], commit=commit)
        assert m.mode == "row-incremental"
        a = sorted(map(tuple, commit.read_table(host, path).collect()))
        b = sorted(map(tuple, commit.read_table(host, dst).collect()))
        assert a == b

    def test_does_not_resurrect_dv_rows(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [50]), ["id"],
            commit=commit, mode="dv",
        )
        # replacing a band in the SAME file the DV touches must read
        # through the vector
        new = spark.createDataFrame([(60, -1)], SCHEMA)
        replace_range(host, path, new, "id", lo=60, hi=70, commit=commit)
        cur = commit.read_table(host, path)
        assert cur.where("id = 50").isEmpty()
        assert cur.count() == 300 - 1 - 11 + 1

    def test_empty_source_equals_delete(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        empty = spark.createDataFrame([], SCHEMA)
        replace_range(host, path, empty, "id", lo=200, hi=299, commit=commit)
        assert commit.read_table(host, path).count() == 200

    def test_composes_with_schema_mapping(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        commit.rename_column(host, path, "v", "val")
        new = spark.range(100, 120).selectExpr("id", "id AS val")
        replace_range(host, path, new, "id", lo=100, hi=199, commit=commit)
        cur = commit.read_table(host, path)
        assert cur.columns == ["id", "val"]
        assert cur.count() == 220
        assert cur.where("id = 110").first()["val"] == 110


class TestVacuumReport:
    def test_dry_run_predicts_the_sweep(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        root, _ = commit._resolve(host, path)
        # a rewrite makes the old files dead once history rolls off
        delete_rows(
            host, path, _ids(spark, range(100, 200)), ["id"],
            commit=commit, mode="rewrite",
        )
        rep = commit.vacuum_report(host, root, retain_versions=1,
                                   grace_s=0)
        assert rep["dead_files"] > 0
        assert rep["live_files"] > 0
        assert len(rep["sample"]) == min(rep["dead_files"], 20)
        before = commit.member_files(host, path)
        # the dry run removed NOTHING
        rep2 = commit.vacuum_report(host, root, retain_versions=1,
                                    grace_s=0)
        assert rep2["dead_files"] == rep["dead_files"]
        # the real vacuum collects exactly the predicted data files
        n = commit.vacuum(host, root, retain_versions=1, grace_s=0)
        assert n == rep["dead_files"]
        assert commit.member_files(host, path) == before
        rep3 = commit.vacuum_report(host, root, retain_versions=1,
                                    grace_s=0)
        assert rep3["dead_files"] == 0

    def test_grace_window_reported_separately(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        root, _ = commit._resolve(host, path)
        delete_rows(
            host, path, _ids(spark, range(100, 200)), ["id"],
            commit=commit, mode="rewrite",
        )
        rep = commit.vacuum_report(host, root, retain_versions=1)
        # default grace: the fresh orphans are in-grace, not dead
        assert rep["dead_files"] == 0
        assert rep["dead_in_grace"] > 0

    def test_dv_blobs_counted_live(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        root, _ = commit._resolve(host, path)
        delete_rows(
            host, path, _ids(spark, [5]), ["id"],
            commit=commit, mode="dv",
        )
        rep = commit.vacuum_report(host, root, retain_versions=1,
                                   grace_s=0)
        # 3 data files + the positions blob + the delete's CDF file
        assert rep["live_files"] == 5
        assert rep["dead_files"] == 0


class TestConnectorHiveUnescape:
    def test_escaped_partition_values_round_trip(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.sources.manifest_stream import (
            read_table_batch,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "esc")
        df = spark.createDataFrame(
            [(1, "c:d"), (2, "a b"), (3, "p%q")],
            "id long, tag string",
        )
        commit.append_partitioned(host, df.coalesce(1), path, ["tag"])
        # the connector must agree with the native scan's unescaping
        native = sorted(
            (r.id, r.tag)
            for r in commit.read_table(host, path).collect()
        )
        via_connector = sorted(
            (r.id, r.tag)
            for r in read_table_batch(
                spark, path, schema="id long, tag string"
            ).collect()
        )
        assert via_connector == native == [
            (1, "c:d"), (2, "a b"), (3, "p%q"),
        ]


class TestBackfillFileStats:
    def _statless_fx(self, spark, tmp_path, monkeypatch):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        # first file commits WITHOUT stats (pre-stats history / a
        # transient footer seam failure)
        monkeypatch.setattr(
            ManifestCommit, "_file_stats",
            lambda self, *a, **k: {},
        )
        commit.append_tables(
            host, path,
            {"": spark.range(0, 100)
             .selectExpr("id", "id * 2 AS v").coalesce(1)},
        )
        monkeypatch.undo()
        commit.append_tables(
            host, path,
            {"": spark.range(100, 200)
             .selectExpr("id", "id * 2 AS v").coalesce(1)},
        )
        return host, commit, path

    def test_restores_metadata_serving_and_skipping(
        self, spark, tmp_path, monkeypatch
    ):
        host, commit, path = self._statless_fx(
            spark, tmp_path, monkeypatch
        )
        assert fast_count(host, path, commit=commit) is None
        kept, total = commit.prune_files(host, path, {"id": (150, 160)})
        assert len(kept) == 2  # the statless file can never prune
        n = backfill_file_stats(host, path, commit=commit)
        assert n == 1
        assert fast_count(host, path, commit=commit) == 200
        kept2, _ = commit.prune_files(host, path, {"id": (150, 160)})
        assert len(kept2) == 1
        # idempotent: nothing left to backfill
        assert backfill_file_stats(host, path, commit=commit) == 0

    def test_feed_transparent(self, spark, tmp_path, monkeypatch):
        """The backfill is a stats-only metadata change: an append-only
        consumer must see NOTHING (kind=preserve), and content is
        untouched."""
        host, commit, path = self._statless_fx(
            spark, tmp_path, monkeypatch
        )
        v0 = commit.table_versions(host, path)[-1]
        backfill_file_stats(host, path, commit=commit)
        delta = commit.read_changes(host, path, v0)
        assert delta.count() == 0
        assert commit.read_table(host, path).count() == 200

    def test_preserve_marked_dv_restat_refused(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        commit.append_tables(
            host, path,
            {"": spark.range(10).selectExpr("id", "id AS v").coalesce(1)},
        )
        (f,) = commit.member_files(host, path)
        blk = commit.member_file_stats(host, path)[f]
        with pytest.raises(ValidationError, match="preserve"):
            commit.rewrite_files(
                host, path, [], None,
                restat={f: {**blk, "dv": {"path": "x", "count": 1}}},
                change={"kind": "preserve"},
            )
