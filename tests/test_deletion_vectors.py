"""Deletion vectors — merge-on-read row deletes (round 14).

The reference's only row-mutation primitive is upsert-by-key
(``index.js:123``); the engine's row-level DELETE/MERGE (r12) made
corrections eager copy-on-write at FILE granularity. At 100 TB that
still rewrites a 1 GB file to erase one row. This suite pins the
merge-on-read complement: a delete lands as a DELETION VECTOR — a
blob of ``(file, pos)`` coordinates referenced from the file's stats
block (``"dv": {"path", "count"}``) by a ``restat`` delta entry — and
the data file never moves. Contracts pinned here:

- reads (plain, pruned, schema-mapped, time travel) anti-join the
  positions out; a version before the DV reads the full file;
- a second delete on the same file writes one SUPERSEDING blob
  holding the union — any snapshot resolves exactly one blob/file;
- every rewrite planner (merge, delete, compaction, Z-order) reads
  through the DV — materializing, never resurrecting;
- metadata serving stays exact or honest: ``fast_count`` subtracts
  recorded DV counts, ``fast_min_max`` refuses (the extremum may be
  deleted);
- the commit protocol extends losslessly: ``restat`` entries are
  O(changed files), checkpoints may not reuse the member's previous
  part (stats changed), vacuum retains blobs exactly as long as a
  retained version references them;
- concurrency: a racing DV attach / rewrite of the same file raises
  ``RewriteConflictError``; append-only feed consumers see the entry
  as a row-level change (kind ``cdf``) and the keyed mirror applies
  it as O(delta) key deletes.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.changefeed import mirror_changes
from redis_lsm_timeseries_spark.commit import (
    CommitHost,
    LOG_DIR,
    ManifestCommit,
)
from redis_lsm_timeseries_spark.errors import (
    NonAppendHistoryError,
    RewriteConflictError,
    ValidationError,
)
from redis_lsm_timeseries_spark.maintenance import (
    compact_small_files,
    fast_count,
    fast_min_max,
    table_report,
)
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    merge_into,
)


def _fx(spark, tmp_path, n_files=3, rows=100):
    """A manifest member of ``n_files`` single-part files holding
    contiguous id bands of ``rows`` each."""
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / "t")
    for i in range(n_files):
        lo = i * rows
        commit.append_tables(
            host, path,
            {"": spark.range(lo, lo + rows)
             .selectExpr("id", "id * 2 AS v").coalesce(1)},
        )
    return host, commit, path


def _ids(spark, vals):
    return spark.createDataFrame([(int(i),) for i in vals], "id long")


def _dv_stats(host, commit, path):
    return {
        f: (s or {}).get("dv")
        for f, s in commit.member_file_stats(host, path).items()
    }


class TestDvDelete:
    def test_positions_delete_reads_survivors(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        before = commit.member_files(host, path)
        st = delete_rows(
            host, path, _ids(spark, [3, 7, 150, 299]), ["id"],
            commit=commit, mode="dv",
        )
        assert st.files_rewritten == 3 and st.files_total == 3
        # the data files never moved — that is the whole point
        assert commit.member_files(host, path) == before
        cur = commit.read_table(host, path)
        assert cur.count() == 296
        assert cur.where(F.col("id").isin(3, 7, 150, 299)).isEmpty()
        # untouched rows intact, values included
        assert cur.where("id = 8").first()["v"] == 16

    def test_restat_entry_is_o_of_change(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5]), ["id"],
            commit=commit, mode="dv",
        )
        root, _ = commit._resolve(host, path)
        v = commit.table_versions(host, path)[-1]
        entry = json.loads(
            host.fs.read_text(f"{root}/{LOG_DIR}/{v:020d}.json")
        )
        delta = entry["delta"]
        assert delta["add"] == {} and delta["remove"] == {}
        # exactly the one touched file's stats block, dv included
        (fmap,) = delta["restat"].values()
        assert len(fmap) == 1
        (block,) = fmap.values()
        assert block["dv"]["count"] == 1

    def test_prune_envelope_limits_dv_scan(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5, 6]), ["id"],
            commit=commit, mode="dv",
        )
        # only the file whose stats overlap the keys carries a dv
        dvs = _dv_stats(host, commit, path)
        assert sum(1 for d in dvs.values() if d) == 1

    def test_second_delete_supersedes_with_union(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [10, 11]), ["id"],
            commit=commit, mode="dv",
        )
        blob1 = [d for d in _dv_stats(host, commit, path).values() if d][0]
        delete_rows(
            host, path, _ids(spark, [11, 12, 13]), ["id"],
            commit=commit, mode="dv",
        )
        dvs = [d for d in _dv_stats(host, commit, path).values() if d]
        assert len(dvs) == 1
        # one superseding blob holding the union, idempotent on 11
        assert dvs[0]["path"] != blob1["path"]
        assert dvs[0]["count"] == 4
        cur = commit.read_table(host, path)
        assert cur.count() == 296
        assert cur.where(F.col("id").between(10, 13)).isEmpty()

    def test_time_travel_reads_each_versions_view(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        delete_rows(
            host, path, _ids(spark, [1, 2]), ["id"],
            commit=commit, mode="dv",
        )
        v1 = commit.table_versions(host, path)[-1]
        delete_rows(
            host, path, _ids(spark, [3]), ["id"],
            commit=commit, mode="dv",
        )
        assert commit.read_table(host, path, version=v0).count() == 300
        assert commit.read_table(host, path, version=v1).count() == 298
        assert commit.read_table(host, path).count() == 297

    def test_fully_deleted_file_is_dropped(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        st = delete_rows(
            host, path, _ids(spark, range(100, 200)), ["id"],
            commit=commit, mode="dv",
        )
        assert st.files_rewritten == 1
        assert len(commit.member_files(host, path)) == 2
        assert not any(_dv_stats(host, commit, path).values())
        assert commit.read_table(host, path).count() == 200

    def test_idempotent_absent_keys(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5]), ["id"],
            commit=commit, mode="dv",
        )
        n_versions = len(commit.table_versions(host, path))
        # same key again: nothing matches through the DV filter, so
        # no commit lands at all
        st = delete_rows(
            host, path, _ids(spark, [5]), ["id"],
            commit=commit, mode="dv",
        )
        assert st.files_rewritten == 0
        assert len(commit.table_versions(host, path)) == n_versions
        assert commit.read_table(host, path).count() == 299

    def test_matches_duckdb(self, spark, tmp_path):
        import duckdb

        host, commit, path = _fx(spark, tmp_path)
        keys = [0, 17, 99, 100, 142, 250, 299]
        delete_rows(
            host, path, _ids(spark, keys), ["id"],
            commit=commit, mode="dv",
        )
        got = sorted(
            (r["id"], r["v"])
            for r in commit.read_table(host, path).collect()
        )
        want = duckdb.connect().execute(
            "SELECT id, id * 2 AS v FROM range(300) t(id) "
            f"WHERE id NOT IN ({','.join(map(str, keys))}) ORDER BY id"
        ).fetchall()
        assert got == [tuple(w) for w in want]

    def test_dv_mode_refused_on_directory_tables(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.commit import ParquetLeaseCommit

        host, commit = CommitHost(spark), ParquetLeaseCommit()
        path = str(tmp_path / "plain")
        spark.range(10).selectExpr("id", "id AS v").write.parquet(path)
        with pytest.raises(ValidationError, match="manifest-managed"):
            delete_rows(
                host, path, _ids(spark, [1]), ["id"],
                commit=commit, mode="dv",
            )
        with pytest.raises(ValidationError, match="mode"):
            delete_rows(
                host, path, _ids(spark, [1]), ["id"],
                commit=commit, mode="bogus",
            )


class TestDvAutoMode:
    def test_sparse_uses_dv_dense_rewrites(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        before = commit.member_files(host, path)
        delete_rows(
            host, path, _ids(spark, [42]), ["id"],
            commit=commit, mode="auto",
        )
        assert commit.member_files(host, path) == before
        assert any(_dv_stats(host, commit, path).values())
        delete_rows(
            host, path, _ids(spark, range(200, 280)), ["id"],
            commit=commit, mode="auto",
        )
        # dense delete rewrote the affected file: no dv on it
        assert commit.read_table(host, path).count() == 219


class TestDvReadPaths:
    def test_pruned_read(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [10, 110]), ["id"],
            commit=commit, mode="dv",
        )
        kept, total = commit.prune_files(host, path, {"id": (0, 99)})
        assert len(kept) == 1 and total == 3
        df = commit.read_table_pruned(
            host, path, predicates={"id": (0, 99)}
        ).where(F.col("id") <= 99)
        assert df.count() == 99
        assert df.where("id = 10").isEmpty()

    def test_live_zero_file_pruned_without_stats_read(
        self, spark, tmp_path
    ):
        host, commit, path = _fx(spark, tmp_path)
        # delete all of file 2's rows through two partial dv passes:
        # the second pass drops the file, but force the intermediate
        # shape by deleting all-but-one then the last one
        delete_rows(
            host, path, _ids(spark, range(100, 199)), ["id"],
            commit=commit, mode="dv",
        )
        kept, _ = commit.prune_files(host, path, {"id": (100, 199)})
        # the surviving row keeps the file alive for its range
        assert len(kept) == 1

    def test_schema_mapped_member_composes(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        commit.rename_column(host, path, "v", "val")
        delete_rows(
            host, path, _ids(spark, [5, 6]), ["id"],
            commit=commit, mode="dv",
        )
        cur = commit.read_table(host, path)
        assert cur.columns == ["id", "val"]
        assert cur.count() == 298
        assert cur.where(F.col("id").isin(5, 6)).isEmpty()
        # and the merge-on-read CDF serves the logical view
        root, _ = commit._resolve(host, path)
        v = commit.table_versions(host, path)[-1]
        ch = commit.read_row_changes(host, path, v - 1, v)
        assert set(ch.columns) >= {"id", "val"}
        assert ch.count() == 2

    def test_widened_member_composes(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "w")
        commit.append_tables(
            host, path,
            {"": spark.range(50).selectExpr(
                "CAST(id AS INT) AS id", "CAST(id AS INT) AS v"
            ).coalesce(1)},
        )
        commit.widen_column(host, path, "v", "long")
        delete_rows(
            host, path, _ids(spark, [7]).selectExpr(
                "CAST(id AS INT) AS id"
            ), ["id"], commit=commit, mode="dv",
        )
        cur = commit.read_table(host, path)
        assert dict(cur.dtypes)["v"] == "bigint"
        assert cur.count() == 49


class TestDvMetadataServing:
    def test_fast_count_stays_exact(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [1, 2, 3, 250]), ["id"],
            commit=commit, mode="dv",
        )
        assert fast_count(host, path, commit=commit) == 296
        assert fast_count(
            host, path, commit=commit
        ) == commit.read_table(host, path).count()

    def test_fast_count_partitioned_all_match(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "p")
        df = spark.range(100).selectExpr(
            "id", "CASE WHEN id < 50 THEN 'a' ELSE 'b' END AS tag"
        )
        commit.append_partitioned(host, df.coalesce(1), path, ["tag"])
        delete_rows(
            host, path, _ids(spark, [10, 11]), ["id"],
            commit=commit, mode="dv",
        )
        # the partition predicate proves all-rows-match per file; the
        # dv count subtracts exactly
        assert fast_count(
            host, path, {"tag": {"a"}}, commit=commit
        ) == 48
        assert fast_count(
            host, path, {"tag": {"b"}}, commit=commit
        ) == 50

    def test_fast_min_max_refuses_on_edge_dv(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        assert fast_min_max(host, path, "id", commit=commit) == (0, 299)
        delete_rows(
            host, path, _ids(spark, [299]), ["id"],
            commit=commit, mode="dv",
        )
        # the deleted row WAS the max: stats can no longer prove
        assert fast_min_max(host, path, "id", commit=commit) is None

    def test_fast_min_max_exact_for_interior_dv(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        # delete only in the MIDDLE file: the edge files are clean, so
        # their extrema dominate and the answer stays metadata-only
        delete_rows(
            host, path, _ids(spark, [150, 151]), ["id"],
            commit=commit, mode="dv",
        )
        assert fast_min_max(host, path, "id", commit=commit) == (0, 299)
        # a fully-DV'd... second file dropped entirely is covered
        # elsewhere; an ALL-files-dv'd table cannot prove
        delete_rows(
            host, path, _ids(spark, [0, 299]), ["id"],
            commit=commit, mode="dv",
        )
        assert fast_min_max(host, path, "id", commit=commit) is None

    def test_restat_live_extrema_restores_metadata_serving(
        self, spark, tmp_path
    ):
        """r15 (VERDICT r14 #6): after an extremum-deleting DV delete,
        one bounded scan of exactly the DV'd files restores exact
        metadata-only min/max — and the live block self-invalidates
        when a later delete supersedes the vector."""
        from redis_lsm_timeseries_spark.maintenance import (
            restat_live_extrema,
        )

        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [298, 299]), ["id"],
            commit=commit, mode="dv",
        )
        assert fast_min_max(host, path, "id", commit=commit) is None
        v0 = commit.table_versions(host, path)[-1]
        assert restat_live_extrema(host, path, commit=commit) == 1
        # metadata-only serving is back, exact over live rows
        assert fast_min_max(host, path, "id", commit=commit) == (0, 297)
        assert fast_min_max(host, path, "v", commit=commit) == (0, 594)
        # idempotent: the file is stamped against its current vector
        assert restat_live_extrema(host, path, commit=commit) == 0
        # the restat is a preserve commit: append feeds see nothing
        assert commit.read_changes(host, path, v0).count() == 0
        # a superseding delete invalidates the stamp — conservative
        # refusal returns until the next restat
        delete_rows(
            host, path, _ids(spark, [297]), ["id"],
            commit=commit, mode="dv",
        )
        assert fast_min_max(host, path, "id", commit=commit) is None
        assert restat_live_extrema(host, path, commit=commit) == 1
        assert fast_min_max(host, path, "id", commit=commit) == (0, 296)
        # rows stay exact throughout
        assert fast_count(host, path, commit=commit) == 297

    def test_optimize_table_restores_metadata_serving(
        self, spark, tmp_path
    ):
        """optimize_table (r15) runs the live-extrema restat after
        compaction: a DV'd file whose debt stays UNDER the compaction
        threshold still gets exact metadata-only min/max back."""
        from redis_lsm_timeseries_spark.maintenance import (
            optimize_table,
        )

        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [299]), ["id"],
            commit=commit, mode="dv",
        )
        assert fast_min_max(host, path, "id", commit=commit) is None
        # target_rows below the live counts: nothing is "small", the
        # 1/100 debt is under the 20% threshold — the DV survives the
        # compaction pass and the restat restores serving
        optimize_table(host, path, target_rows=10, commit=commit)
        stats = commit.member_file_stats(host, path)
        assert any((s or {}).get("dv") for s in stats.values())
        assert fast_min_max(host, path, "id", commit=commit) == (0, 298)

    def test_restat_live_extrema_bounded_to_dv_files(
        self, spark, tmp_path
    ):
        """The restat scans ONLY DV'd files (max_files caps a run) —
        the 100 TB posture: k DV'd files, never the table."""
        from redis_lsm_timeseries_spark.maintenance import (
            restat_live_extrema,
        )

        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [0, 299]), ["id"],
            commit=commit, mode="dv",
        )
        # two DV'd files; cap to one per run
        assert restat_live_extrema(
            host, path, commit=commit, max_files=1
        ) == 1
        assert fast_min_max(host, path, "id", commit=commit) is None
        assert restat_live_extrema(host, path, commit=commit) == 1
        assert fast_min_max(host, path, "id", commit=commit) == (1, 298)

    def test_table_report_counts_dv_debt(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [1, 101, 201]), ["id"],
            commit=commit, mode="dv",
        )
        rep = table_report(host, path, commit=commit)
        assert rep["rows"] == 297
        assert rep["files_with_dv"] == 3
        assert rep["dv_rows"] == 3


class TestDvRewritersMaterialize:
    def test_compaction_materializes(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5, 105, 205]), ["id"],
            commit=commit, mode="dv",
        )
        cs = compact_small_files(
            host, path, target_rows=1000, min_group=1, commit=commit
        )
        assert cs.files_compacted == 3
        assert not any(_dv_stats(host, commit, path).values())
        cur = commit.read_table(host, path)
        assert cur.count() == 297
        assert cur.where(F.col("id").isin(5, 105, 205)).isEmpty()

    def test_lone_dv_file_is_a_compaction_candidate(
        self, spark, tmp_path
    ):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=50)
        delete_rows(
            host, path, _ids(spark, [1]), ["id"],
            commit=commit, mode="dv",
        )
        cs = compact_small_files(
            host, path, target_rows=1000, min_group=2, commit=commit
        )
        # min_group=2 would normally skip a lone file; the DV makes
        # the rewrite worthwhile (it IS the materialization)
        assert cs.files_compacted == 1
        assert not any(_dv_stats(host, commit, path).values())
        assert commit.read_table(host, path).count() == 49

    def test_dv_debt_compacts_regardless_of_size(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=100)
        # 25% of the file's rows DV'd: past the 20% debt threshold
        delete_rows(
            host, path, _ids(spark, range(25)), ["id"],
            commit=commit, mode="dv",
        )
        # live (75) clears the tiny target, but the debt compacts it
        cs = compact_small_files(
            host, path, target_rows=10, min_group=2, commit=commit
        )
        assert cs.files_compacted == 1
        assert not any(_dv_stats(host, commit, path).values())
        assert commit.read_table(host, path).count() == 75
        # below the threshold: an oversized file with light debt stays
        delete_rows(
            host, path, _ids(spark, [30]), ["id"],
            commit=commit, mode="dv",
        )
        cs2 = compact_small_files(
            host, path, target_rows=10, min_group=2, commit=commit
        )
        assert cs2.files_compacted == 0
        assert any(_dv_stats(host, commit, path).values())

    def test_concurrent_dv_deletes_converge(self, spark, tmp_path):
        """Two writers DV-deleting disjoint keys of the SAME file:
        the loser of the commit race retries on fresh state (the DV
        CAS guard) and both deletes land — nothing lost, nothing
        double-counted."""
        import threading

        from redis_lsm_timeseries_spark.errors import (
            RewriteConflictError,
        )

        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=200)
        errs: list = []
        barrier = threading.Barrier(2)

        def worker(keys):
            barrier.wait()
            for _ in range(6):
                try:
                    delete_rows(
                        host, path, _ids(spark, keys), ["id"],
                        commit=commit, mode="dv",
                    )
                    return
                except RewriteConflictError:
                    continue
            errs.append(f"never landed: {keys[:2]}...")

        t1 = threading.Thread(target=worker, args=([1, 3, 5, 7],))
        t2 = threading.Thread(target=worker, args=([2, 4, 6, 8],))
        t1.start(); t2.start(); t1.join(120); t2.join(120)
        assert not errs
        cur = commit.read_table(host, path)
        assert cur.count() == 192
        assert cur.where(F.col("id").between(1, 8)).isEmpty()
        # the surviving DV count is exact
        from redis_lsm_timeseries_spark.maintenance import fast_count

        assert fast_count(host, path, commit=commit) == 192

    def test_zorder_materializes(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.operators.zorder import (
            zorder_compact,
        )

        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [42, 142]), ["id"],
            commit=commit, mode="dv",
        )
        n = zorder_compact(host, path, ["id", "v"], commit=commit)
        assert n == 3
        assert not any(_dv_stats(host, commit, path).values())
        cur = commit.read_table(host, path)
        assert cur.count() == 298
        assert cur.where(F.col("id").isin(42, 142)).isEmpty()

    def test_merge_does_not_resurrect(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [50, 51, 52]), ["id"],
            commit=commit, mode="dv",
        )
        src = spark.createDataFrame([(60, 999)], "id long, v long")
        merge_into(host, path, src, ["id"], commit=commit)
        cur = commit.read_table(host, path)
        assert cur.where(F.col("id").isin(50, 51, 52)).isEmpty()
        assert cur.where("id = 60").first()["v"] == 999
        assert cur.count() == 297

    def test_rewrite_delete_does_not_resurrect(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [50]), ["id"],
            commit=commit, mode="dv",
        )
        delete_rows(
            host, path, _ids(spark, [60]), ["id"],
            commit=commit, mode="rewrite",
        )
        cur = commit.read_table(host, path)
        assert cur.count() == 298
        assert cur.where(F.col("id").isin(50, 60)).isEmpty()


class TestDvMerge:
    def test_merge_on_read_upsert(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        before = commit.member_files(host, path)
        src = spark.createDataFrame(
            [(5, 555), (150, 999), (500, 500)], "id long, v long"
        )
        st = merge_into(
            host, path, src, ["id"], commit=commit, mode="dv"
        )
        assert st.rows_upserted == 3
        # the affected files never moved; the applied rows appended
        after = commit.member_files(host, path)
        assert set(before) <= set(after)
        assert len(after) > len(before)
        cur = commit.read_table(host, path)
        assert cur.count() == 301
        got = {
            r["id"]: r["v"]
            for r in cur.where(
                F.col("id").isin(5, 150, 500, 6)
            ).collect()
        }
        assert got == {5: 555, 150: 999, 500: 500, 6: 12}
        # no duplicate keys: the old versions are position-deleted
        assert (
            cur.groupBy("id").count().where("count > 1").isEmpty()
        )

    def test_merge_on_read_matches_rewrite_mode(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        twin = str(tmp_path / "twin")
        for i in range(3):
            commit.append_tables(
                host, twin,
                {"": spark.range(i * 100, (i + 1) * 100)
                 .selectExpr("id", "id * 2 AS v").coalesce(1)},
            )
        src = spark.createDataFrame(
            [(10, -1), (120, -2), (305, -3)], "id long, v long"
        )
        merge_into(
            host, path, src, ["id"], commit=commit, mode="dv",
            when_matched="update",
            matched_condition="s.v < t.v",
        )
        merge_into(
            host, twin, src, ["id"], commit=commit, mode="rewrite",
            when_matched="update",
            matched_condition="s.v < t.v",
        )
        a = sorted(map(tuple, commit.read_table(host, path).collect()))
        b = sorted(map(tuple, commit.read_table(host, twin).collect()))
        assert a == b and len(a) == 301

    def test_merge_on_read_delete_clause(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        before = commit.member_files(host, path)
        src = spark.createDataFrame(
            [(7, 0), (207, 0)], "id long, v long"
        )
        st = merge_into(
            host, path, src, ["id"], commit=commit, mode="dv",
            when_matched="delete", insert_unmatched=False,
        )
        assert st.rows_upserted == 0
        assert commit.member_files(host, path) == before
        cur = commit.read_table(host, path)
        assert cur.count() == 298
        assert cur.where(F.col("id").isin(7, 207)).isEmpty()

    def test_keyed_mirror_consumes_dv_merge(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=30)
        dst = str(tmp_path / "dst")
        mirror_changes(host, path, dst, keys=["id"], commit=commit)
        src = spark.createDataFrame(
            [(3, 333), (99, 99)], "id long, v long"
        )
        merge_into(host, path, src, ["id"], commit=commit, mode="dv")
        m = mirror_changes(host, path, dst, keys=["id"], commit=commit)
        assert m.mode == "row-incremental"
        a = sorted(map(tuple, commit.read_table(host, path).collect()))
        b = sorted(map(tuple, commit.read_table(host, dst).collect()))
        assert a == b and len(a) == 31

    def test_auto_prefers_dv_for_sparse_merge(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        before = commit.member_files(host, path)
        src = spark.createDataFrame([(50, 0)], "id long, v long")
        merge_into(host, path, src, ["id"], commit=commit, mode="auto")
        assert set(before) <= set(commit.member_files(host, path))
        assert any(_dv_stats(host, commit, path).values())

    def test_dv_mode_refused_on_directory_tables(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.commit import ParquetLeaseCommit

        host, commit = CommitHost(spark), ParquetLeaseCommit()
        path = str(tmp_path / "plain")
        spark.range(10).selectExpr("id", "id AS v").write.parquet(path)
        with pytest.raises(ValidationError, match="manifest-managed"):
            merge_into(
                host, path,
                spark.createDataFrame([(1, 1)], "id long, v long"),
                ["id"], commit=commit, mode="dv",
            )

    def test_hive_partitioned_member(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "hp")
        df = spark.range(100).selectExpr(
            "id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS tag"
        )
        commit.append_partitioned(host, df.coalesce(1), path, ["tag"])
        src = spark.createDataFrame(
            [(2, "b"), (101, "a")], "id long, tag string"
        )
        merge_into(host, path, src, ["id"], commit=commit, mode="dv")
        cur = commit.read_table(host, path)
        assert cur.count() == 101
        assert cur.where("id = 2").first()["tag"] == "b"
        # the appended replacement files keep the hive layout
        assert all(
            f.startswith("tag=")
            for f in commit.member_files(host, path)
        )
        # and a dv delete composes on the partitioned layout
        delete_rows(
            host, path, _ids(spark, [3, 5]), ["id"],
            commit=commit, mode="dv",
        )
        assert commit.read_table(host, path).count() == 99

    def test_partition_values_that_uri_encode(self, spark, tmp_path):
        """``_metadata.file_path`` is a URI: a partition value with a
        space reads as ``%20`` and hive-escaped chars double-encode —
        the position join must not care (it keys on basenames). A
        full-path string join silently resurrected deleted rows
        here."""
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "enc")
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "c:d"), (4, "c:d")],
            "id long, tag string",
        )
        commit.append_partitioned(host, df.coalesce(1), path, ["tag"])
        st = delete_rows(
            host, path, _ids(spark, [1, 3]), ["id"],
            commit=commit, mode="dv",
        )
        assert st.files_rewritten == 2
        cur = commit.read_table(host, path)
        got = sorted((r.id, r.tag) for r in cur.collect())
        assert got == [(2, "a b"), (4, "c:d")]

    def test_duplicate_target_keys_all_die(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "dup")
        # the same key lands in two files (duplicate rows)
        for _ in range(2):
            commit.append_tables(
                host, path,
                {"": spark.createDataFrame(
                    [(1, 10), (2, 20)], "id long, v long"
                ).coalesce(1)},
            )
        merge_into(
            host, path,
            spark.createDataFrame([(1, 99)], "id long, v long"),
            ["id"], commit=commit, mode="dv",
        )
        cur = commit.read_table(host, path)
        # both duplicate occurrences position-deleted, one row appended
        assert cur.where("id = 1").count() == 1
        assert cur.where("id = 1").first()["v"] == 99
        assert cur.count() == 3


class TestDvCommitProtocol:
    def test_reserved_columns_refused(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "rc")
        commit.append_tables(
            host, path,
            {"": spark.range(5).selectExpr(
                "id", "id AS __dv_pos"
            ).coalesce(1)},
        )
        with pytest.raises(ValidationError, match="__dv_pos"):
            delete_rows(
                host, path, _ids(spark, [1]), ["id"],
                commit=commit, mode="dv",
            )

    def test_empty_subset_refused(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=10)
        with pytest.raises(ValidationError, match="empty file subset"):
            commit.scan_member_subset(host, path, [])
    def test_checkpoint_cannot_reuse_stale_part(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=60)
        # march the log to one commit before a checkpoint interval
        interval = ManifestCommit.CHECKPOINT_INTERVAL
        while (
            commit.table_versions(host, path)[-1] + 1
        ) % interval != 0:
            commit.append_tables(
                host, path,
                {"": spark.range(1000, 1001).selectExpr(
                    "id", "id * 2 AS v"
                ).coalesce(1)},
            )
        # the interval-landing commit is the DV attach itself
        delete_rows(
            host, path, _ids(spark, [7]), ["id"],
            commit=commit, mode="dv",
        )
        v = commit.table_versions(host, path)[-1]
        assert v % interval == 0
        # force reconstruction through the checkpoint, not the cache
        import redis_lsm_timeseries_spark.commit as C

        with C._RECON_CACHE_LOCK:
            C._RECON_CACHE.clear()
            C._RECON_CACHE_ORDER.clear()
        cur = commit.read_table(host, path)
        assert cur.where("id = 7").isEmpty()

    def test_vacuum_retains_then_collects_blobs(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [9]), ["id"],
            commit=commit, mode="dv",
        )
        root, member = commit._resolve(host, path)
        blob1 = [
            d for d in _dv_stats(host, commit, path).values() if d
        ][0]["path"]
        bpath = f"{commit._member_root(root, member)}/{blob1}"
        commit.vacuum(host, root, grace_s=0)
        assert host.fs.exists(bpath)
        # supersede, then vacuum down to the live snapshot: the old
        # blob is referenced by no retained version
        delete_rows(
            host, path, _ids(spark, [10]), ["id"],
            commit=commit, mode="dv",
        )
        commit.vacuum(host, root, retain_versions=1, grace_s=0)
        cur = commit.read_table(host, path)
        assert cur.count() == 298
        blob2 = [
            d for d in _dv_stats(host, commit, path).values() if d
        ][0]["path"]
        assert host.fs.exists(
            f"{commit._member_root(root, member)}/{blob2}"
        )

    def test_racing_dv_attach_conflicts(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=50)
        # plan a DV delete, then land a racing one before commit by
        # injecting through extra_guard's evaluation order: simplest
        # deterministic race — run a delete whose expected dv was
        # computed against a snapshot made stale by another delete
        from redis_lsm_timeseries_spark.operators.merge import _dv_guard

        delete_rows(
            host, path, _ids(spark, [1]), ["id"],
            commit=commit, mode="dv",
        )
        # a guard carrying the PRE-delete expectation must now refuse
        (f,) = commit.member_files(host, path)
        stale = _dv_guard(commit, "", {f: None})
        with pytest.raises(RewriteConflictError, match="deletion vector"):
            commit.rewrite_files(
                host, path, [], None,
                restat={f: {"rows": 50, "cols": {}, "dv": {
                    "path": "bogus.parquet", "count": 1}}},
                entry_guard=stale,
            )

    def test_racing_rewrite_of_restat_target_conflicts(
        self, spark, tmp_path
    ):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=50)
        (f,) = commit.member_files(host, path)
        # the file vanishes (compacted away) between planning and
        # commit: the restat targets a file no longer listed
        compact_small_files(
            host, path, target_rows=1000, min_group=1, commit=commit
        )
        with pytest.raises(RewriteConflictError, match="restat"):
            commit.rewrite_files(
                host, path, [], None,
                restat={f: {"rows": 50, "cols": {}, "dv": {
                    "path": "bogus.parquet", "count": 1}}},
            )


class TestDvPlanShape:
    @staticmethod
    def _plan(commit, host, path):
        spark = host.spark
        return commit.read_table(host, path)._jdf.queryExecution() \
            .explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )

    def test_dv_read_is_broadcast_anti_join(self, spark, tmp_path):
        """Below the size gate the position filter must plan as a
        BROADCAST anti-join — the DV side is O(deleted rows); a
        shuffle would move the whole data scan at 100 TB."""
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5, 150]), ["id"],
            commit=commit, mode="dv",
        )
        plan = self._plan(commit, host, path)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_heavy_debt_mask_does_not_broadcast(
        self, spark, tmp_path, monkeypatch
    ):
        """Past ``DV_BROADCAST_MAX_POSITIONS`` (total positions summed
        over the scanned DV'd files — per-file debt is capped but a
        wide scan's TOTAL is not) the mask must anti-join WITHOUT a
        broadcast: at 100 TB the union of all deleted positions
        exceeds any broadcast ceiling and would fail the query. Rows
        are identical in both modes."""
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5, 150, 250]), ["id"],
            commit=commit, mode="dv",
        )
        want = {
            r.id for r in commit.read_table(host, path).collect()
        }
        # 3 recorded positions: a 2-position ceiling forces the gate
        monkeypatch.setattr(
            ManifestCommit, "DV_BROADCAST_MAX_POSITIONS", 2
        )
        plan = self._plan(commit, host, path)
        # the POSITION mask itself must not broadcast (the tiny
        # relpath-mapping inner join legitimately still does)
        assert "ShuffledHashJoin LeftAnti" in plan
        assert "BroadcastHashJoin LeftAnti" not in plan
        got = {r.id for r in commit.read_table(host, path).collect()}
        assert got == want and 5 not in got and len(got) == 297

    def test_unrecorded_count_refuses_broadcast(
        self, spark, tmp_path
    ):
        """A DV block missing its ``count`` cannot be priced — the
        gate must take the scalable path, never an unbounded
        broadcast."""
        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5]), ["id"],
            commit=commit, mode="dv",
        )
        # strip the recorded count via a whole-block restat
        fstats = commit.member_file_stats(host, path)
        f, blk = next(
            (f, s) for f, s in fstats.items() if (s or {}).get("dv")
        )
        dv = dict(blk["dv"])
        dv.pop("count")
        commit.rewrite_files(
            host, path, [], None, restat={f: {**blk, "dv": dv}},
        )
        plan = self._plan(commit, host, path)
        assert "ShuffledHashJoin LeftAnti" in plan
        assert "BroadcastHashJoin LeftAnti" not in plan
        got = {r.id for r in commit.read_table(host, path).collect()}
        assert 5 not in got and len(got) == 299

    def test_no_dv_no_plan_change(self, spark, tmp_path):
        """A member without DVs must plan the exact same scan as
        before the feature existed — zero overhead on the hot path."""
        host, commit, path = _fx(spark, tmp_path)
        plan = commit.read_table(host, path)._jdf.queryExecution() \
            .explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
        assert "Join" not in plan
        assert "row_index" not in plan


class TestDvFeeds:
    def test_append_feed_raises_on_dv_entry(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        delete_rows(
            host, path, _ids(spark, [5]), ["id"],
            commit=commit, mode="dv",
        )
        with pytest.raises(NonAppendHistoryError):
            commit.read_changes(host, path, v0)

    def test_row_feed_serves_deleted_rows(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        delete_rows(
            host, path, _ids(spark, [5, 205]), ["id"],
            commit=commit, mode="dv",
        )
        ch = commit.read_row_changes(host, path, v0)
        rows = {
            (r["id"], r[commit.CDF_TYPE_COL]) for r in ch.collect()
        }
        assert rows == {(5, "delete"), (205, "delete")}

    def test_keyed_mirror_applies_dv_delete(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=30)
        dst = str(tmp_path / "dst")
        mirror_changes(host, path, dst, keys=["id"], commit=commit)
        assert commit.read_table(host, dst).count() == 30
        delete_rows(
            host, path, _ids(spark, [3, 4]), ["id"],
            commit=commit, mode="dv",
        )
        m = mirror_changes(host, path, dst, keys=["id"], commit=commit)
        assert m.mode == "row-incremental"
        out = commit.read_table(host, dst)
        assert out.count() == 28
        assert out.where(F.col("id").isin(3, 4)).isEmpty()

    def test_unmarked_restat_raises_in_every_feed(self, spark, tmp_path):
        """A raw rewrite_files(restat=...) without CDF rows changes
        row content invisibly to the file diff — both feeds and the
        stream source must fail loudly, never silently under-read."""
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=20)
        v0 = commit.table_versions(host, path)[-1]
        (f,) = commit.member_files(host, path)
        blk = commit.member_file_stats(host, path)[f]
        blob = commit.stage_dv(
            host, path,
            spark.createDataFrame([(f, 0)], "file string, pos long"),
        )
        commit.rewrite_files(
            host, path, [], None,
            restat={f: {**blk, "dv": {"path": blob, "count": 1}}},
        )
        with pytest.raises(NonAppendHistoryError, match="deletion"):
            commit.read_changes(host, path, v0)
        with pytest.raises(NonAppendHistoryError, match="deletion"):
            commit.read_row_changes(host, path, v0)
        from redis_lsm_timeseries_spark.sources.manifest_stream import (
            _Meta,
        )

        meta = _Meta(path)
        with pytest.raises(NonAppendHistoryError):
            meta.added_files(v0, meta.current_version())

    def test_connector_batch_read_applies_dv(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.sources.manifest_stream import (
            register_manifest_source,
        )

        host, commit, path = _fx(spark, tmp_path)
        delete_rows(
            host, path, _ids(spark, [5, 150, 255]), ["id"],
            commit=commit, mode="dv",
        )
        register_manifest_source(spark)
        df = (
            spark.read.format("rlts_table")
            .schema("id long, v long")
            .option("path", path)
            .load()
        )
        assert df.count() == 297
        assert df.where(F.col("id").isin(5, 150, 255)).isEmpty()
        # pushdown still prunes through the dv'd file set
        assert (
            df.where((F.col("id") >= 100) & (F.col("id") <= 199)).count()
            == 99
        )

    def test_streaming_source_fails_loudly(self, spark, tmp_path):
        host, commit, path = _fx(spark, tmp_path, n_files=1, rows=20)
        v0 = commit.table_versions(host, path)[-1]
        delete_rows(
            host, path, _ids(spark, [1]), ["id"],
            commit=commit, mode="dv",
        )
        from redis_lsm_timeseries_spark.sources.manifest_stream import (
            _Meta,
        )

        meta = _Meta(path)
        with pytest.raises(NonAppendHistoryError):
            meta.added_files(v0, meta.current_version())
