"""Row-level MERGE / DELETE (``operators/merge.py``): upsert and
erase with identical semantics on both commit backends, and — on the
manifest backend — copy-on-write at FILE granularity: files whose
stats prove no key matches are carried forward byte-untouched, a
concurrent unrelated append survives the merge commit, and racing
rewrites of the same files conflict loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.commit import (
    CommitHost,
    ManifestCommit,
    ParquetLeaseCommit,
)
from redis_lsm_timeseries_spark.errors import (
    RewriteConflictError,
    ValidationError,
)
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    merge_into,
)

SCHEMA = "k long, v string"


def _seed(spark, host, commit, path, n=100, files=4):
    """n rows keyed 0..n-1, range-clustered into ``files`` files so
    each covers a contiguous key band (tight stats)."""
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], SCHEMA
    ).repartitionByRange(files, "k").sortWithinPartitions("k")
    if isinstance(commit, ManifestCommit):
        commit.rewrite_files(
            host, path, [],
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
    else:
        df.write.mode("overwrite").parquet(path)


def _rows(spark, host, commit, path):
    return {
        r.k: r.v for r in commit.read_table(host, path, SCHEMA).collect()
    }


@pytest.fixture(params=["manifest", "directory"])
def env(request, spark, tmp_path):
    commit = (
        ManifestCommit() if request.param == "manifest"
        else ParquetLeaseCommit()
    )
    host = CommitHost(spark)
    path = str(tmp_path / "t")
    _seed(spark, host, commit, path)
    return host, commit, path


class TestMergeSemantics:
    def test_upsert_replaces_matches_and_inserts_rest(self, spark, env):
        host, commit, path = env
        src = spark.createDataFrame(
            [(3, "NEW3"), (7, "NEW7"), (200, "NEW200")], SCHEMA
        )
        st = merge_into(host, path, src, ["k"], commit=commit)
        assert st.rows_upserted == 3
        got = _rows(spark, host, commit, path)
        want = {i: f"v{i}" for i in range(100)}
        want.update({3: "NEW3", 7: "NEW7", 200: "NEW200"})
        assert got == want

    def test_empty_source_is_a_noop(self, spark, env):
        host, commit, path = env
        src = spark.createDataFrame([], SCHEMA)
        st = merge_into(host, path, src, ["k"], commit=commit)
        assert st.rows_upserted == 0
        assert _rows(spark, host, commit, path) == {
            i: f"v{i}" for i in range(100)
        }

    def test_duplicate_source_keys_raise_without_order_col(
        self, spark, env
    ):
        host, commit, path = env
        src = spark.createDataFrame([(3, "a"), (3, "b")], SCHEMA)
        with pytest.raises(ValidationError, match="duplicate source key"):
            merge_into(host, path, src, ["k"], commit=commit)

    def test_order_col_resolves_in_source_lww(self, spark, tmp_path):
        host = CommitHost(spark)
        commit = ManifestCommit()
        path = str(tmp_path / "t")
        spark_df = spark.createDataFrame(
            [(i, f"v{i}", 0) for i in range(10)],
            "k long, v string, seq long",
        )
        commit.rewrite_files(
            host, path, [],
            lambda tmp: spark_df.write.mode("overwrite").parquet(tmp),
        )
        src = spark.createDataFrame(
            [(3, "old", 1), (3, "new", 2), (4, "only", 1)],
            "k long, v string, seq long",
        )
        merge_into(host, path, src, ["k"], order_col="seq", commit=commit)
        got = {
            r.k: (r.v, r.seq)
            for r in commit.read_table(host, path, None).collect()
        }
        assert got[3] == ("new", 2)
        assert got[4] == ("only", 1)
        assert got[5] == ("v5", 0)

    def test_null_source_key_raises(self, spark, env):
        host, commit, path = env
        src = spark.createDataFrame([(None, "x")], SCHEMA)
        with pytest.raises(ValidationError, match="NULL"):
            merge_into(host, path, src, ["k"], commit=commit)

    def test_schema_mismatch_raises(self, spark, env):
        host, commit, path = env
        src = spark.createDataFrame([(1, "x", 9)], "k long, v string, extra long")
        with pytest.raises(ValidationError, match="columns"):
            merge_into(host, path, src, ["k"], commit=commit)


class TestFileGranularity:
    """Manifest backend only: what the merge must NOT touch."""

    def _mfx(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path)
        return host, commit, path

    def test_untouched_files_carried_forward_verbatim(
        self, spark, tmp_path
    ):
        host, commit, path = self._mfx(spark, tmp_path)
        before = set(commit.member_files(host, path))
        assert len(before) == 4
        # keys 1..3 live in the first band only
        src = spark.createDataFrame([(1, "N1"), (2, "N2")], SCHEMA)
        st = merge_into(host, path, src, ["k"], commit=commit)
        assert st.files_total == 4
        assert 1 <= st.files_rewritten < 4
        after = set(commit.member_files(host, path))
        # every non-affected file survives with the same relpath
        assert len(before & after) == 4 - st.files_rewritten
        got = _rows(spark, host, commit, path)
        assert got[1] == "N1" and got[2] == "N2" and got[99] == "v99"

    def test_pure_insert_outside_all_bands_rewrites_nothing(
        self, spark, tmp_path
    ):
        host, commit, path = self._mfx(spark, tmp_path)
        before = set(commit.member_files(host, path))
        src = spark.createDataFrame([(1000, "far")], SCHEMA)
        st = merge_into(host, path, src, ["k"], commit=commit)
        assert st.files_rewritten == 0
        assert before <= set(commit.member_files(host, path))
        assert _rows(spark, host, commit, path)[1000] == "far"

    def test_concurrent_unrelated_append_survives_merge(
        self, spark, tmp_path
    ):
        """An append landing between the merge's read and its commit
        must survive — the conflict check covers only replaced
        files."""
        host, commit, path = self._mfx(spark, tmp_path)
        real_stage = ManifestCommit._stage_in
        raced = {"done": False}

        def racing_stage(self_, store, root, member, write_fn):
            files = real_stage(self_, store, root, member, write_fn)
            if not raced["done"]:
                raced["done"] = True
                # a second committer appends while our files are staged
                ManifestCommit().append_rows(
                    store, [(5000, "racer")], SCHEMA, path
                )
            return files

        ManifestCommit._stage_in = racing_stage
        try:
            src = spark.createDataFrame([(1, "N1")], SCHEMA)
            merge_into(host, path, src, ["k"], commit=commit)
        finally:
            ManifestCommit._stage_in = real_stage
        got = _rows(spark, host, commit, path)
        assert got[5000] == "racer" and got[1] == "N1"

    def test_racing_rewrite_of_same_files_conflicts(
        self, spark, tmp_path
    ):
        host, commit, path = self._mfx(spark, tmp_path)
        files = commit.member_files(host, path)
        df = spark.createDataFrame([(0, "x")], SCHEMA)
        w = lambda tmp: df.write.mode("overwrite").parquet(tmp)  # noqa: E731
        commit.rewrite_files(host, path, files, w)
        with pytest.raises(RewriteConflictError):
            commit.rewrite_files(host, path, files, w)

    def test_merge_preserves_time_travel(self, spark, tmp_path):
        host, commit, path = self._mfx(spark, tmp_path)
        v0 = commit.table_versions(host, path)[-1]
        src = spark.createDataFrame([(1, "N1")], SCHEMA)
        merge_into(host, path, src, ["k"], commit=commit)
        old = {
            r.k: r.v
            for r in commit.read_table(
                host, path, SCHEMA, version=v0
            ).collect()
        }
        assert old[1] == "v1"  # pre-merge snapshot intact

    def test_next_merge_prunes_as_tightly(self, spark, tmp_path):
        """Replacement files are range-clustered, so a SECOND merge in
        the same band still rewrites a strict file subset."""
        host, commit, path = self._mfx(spark, tmp_path)
        merge_into(
            host, path,
            spark.createDataFrame([(1, "N1")], SCHEMA),
            ["k"], commit=commit,
        )
        st2 = merge_into(
            host, path,
            spark.createDataFrame([(2, "N2")], SCHEMA),
            ["k"], commit=commit,
        )
        assert st2.files_rewritten < st2.files_total


class TestDelete:
    def test_delete_rows_by_key(self, spark, env):
        host, commit, path = env
        dk = spark.createDataFrame([(3,), (7,), (999,)], "k long")
        delete_rows(host, path, dk, ["k"], commit=commit)
        got = _rows(spark, host, commit, path)
        assert 3 not in got and 7 not in got and len(got) == 98
        # idempotent
        delete_rows(host, path, dk, ["k"], commit=commit)
        assert len(_rows(spark, host, commit, path)) == 98

    def test_delete_rows_is_file_granular(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path)
        before = set(commit.member_files(host, path))
        dk = spark.createDataFrame([(1,), (2,)], "k long")
        st = delete_rows(host, path, dk, ["k"], commit=commit)
        assert 1 <= st.files_rewritten < st.files_total == 4
        after = set(commit.member_files(host, path))
        assert len(before & after) == 4 - st.files_rewritten

    def test_fully_deleted_band_drops_files_without_replacement(
        self, spark, tmp_path
    ):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path)
        # wipe one whole quarter of the key space
        dk = spark.createDataFrame([(i,) for i in range(0, 25)], "k long")
        n_before = len(commit.member_files(host, path))
        st = delete_rows(host, path, dk, ["k"], commit=commit)
        n_after = len(commit.member_files(host, path))
        assert st.files_rewritten >= 1
        assert n_after < n_before  # dropped, nothing written back
        got = _rows(spark, host, commit, path)
        assert set(got) == set(range(25, 100))

class TestOracleAgreement:
    """DuckDB differential: merge == anti-join ∪ source, delete ==
    anti-join, on identical inputs."""

    def test_merge_matches_sql_semantics(self, spark, tmp_path):
        import duckdb

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path, n=50, files=3)
        src_rows = [(3, "X3"), (17, "X17"), (60, "X60"), (61, "X61")]
        src = spark.createDataFrame(src_rows, SCHEMA)
        merge_into(host, path, src, ["k"], commit=commit)
        got = _rows(spark, host, commit, path)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (SELECT unnest(range(50)) k)"
        )
        want_rows = con.execute(
            """
            WITH tgt AS (SELECT k, 'v' || CAST(k AS VARCHAR) v
                         FROM range(50) t(k)),
                 src(k, v) AS (VALUES (3, 'X3'), (17, 'X17'),
                                      (60, 'X60'), (61, 'X61'))
            SELECT k, v FROM tgt WHERE k NOT IN (SELECT k FROM src)
            UNION ALL SELECT k, v FROM src
            """
        ).fetchall()
        assert got == {k: v for k, v in want_rows}


class TestPartitionedMembers:
    """Hive-partitioned members: replacement writes must reproduce the
    directory layout — a flat file at a different depth would corrupt
    partition discovery for the whole member."""

    def _fx(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(60)],
            "k long, p long, v string",
        )
        commit.append_partitioned(host, df, path, ["p"])
        return host, commit, path

    def test_merge_preserves_hive_layout(self, spark, tmp_path):
        host, commit, path = self._fx(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, 0, "NEW3"), (100, 1, "NEW100")],
            "k long, p long, v string",
        )
        merge_into(host, path, src, ["k"], commit=commit)
        # every committed file still sits under a p=... directory
        for f in commit.member_files(host, path):
            assert f.startswith("p="), f
        got = {
            r.k: (r.p, r.v)
            for r in commit.read_table(host, path, None).collect()
        }
        assert got[3] == (0, "NEW3")
        assert got[100] == (1, "NEW100")
        assert got[4] == (1, "v4")
        assert len(got) == 61
        # partition-column stats survive for pruning
        kept, total = commit.prune_files(host, path, {"p": {0}})
        assert 0 < len(kept) < total

    def test_delete_preserves_hive_layout(self, spark, tmp_path):
        host, commit, path = self._fx(spark, tmp_path)
        dk = spark.createDataFrame([(k,) for k in range(0, 10)], "k long")
        delete_rows(host, path, dk, ["k"], commit=commit)
        for f in commit.member_files(host, path):
            assert f.startswith("p="), f
        assert commit.read_table(host, path, None).count() == 50

    def test_zorder_compact_preserves_hive_layout(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.operators.zorder import (
            zorder_compact,
        )

        host, commit, path = self._fx(spark, tmp_path)
        n = zorder_compact(
            host, path, ["k", "p"], min_files=1, commit=commit
        )
        assert n >= 1
        for f in commit.member_files(host, path):
            assert f.startswith("p="), f
        assert commit.read_table(host, path, None).count() == 60


class TestConcurrentMerges:
    def test_parallel_merges_of_disjoint_bands_both_apply(
        self, spark, tmp_path
    ):
        """The narrower conflict rule's payoff: merges touching
        DIFFERENT files commit concurrently without conflicting; a
        racing pair on the same band retries and still converges.
        Final state == both upserts applied."""
        import threading

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path, n=100, files=4)
        errs = []

        def upsert(lo, tag):
            try:
                src = spark.createDataFrame(
                    [(lo + j, f"{tag}{j}") for j in range(3)], SCHEMA
                )
                for attempt in range(5):
                    try:
                        merge_into(
                            host, path, src, ["k"], commit=commit
                        )
                        return
                    except RewriteConflictError:
                        continue
                errs.append(f"{tag}: retries exhausted")
            except Exception as exc:  # pragma: no cover
                errs.append(f"{tag}: {exc}")

        # keys 1.. (first band) and 90.. (last band): disjoint files
        ts = [
            threading.Thread(target=upsert, args=(1, "A")),
            threading.Thread(target=upsert, args=(90, "B")),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        got = _rows(spark, host, commit, path)
        assert got[1] == "A0" and got[2] == "A1" and got[3] == "A2"
        assert got[90] == "B0" and got[91] == "B1" and got[92] == "B2"
        assert got[50] == "v50" and len(got) == 100


class TestKeyShapes:
    def test_composite_key_merge(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i % 5, i // 5, f"v{i}") for i in range(50)],
            "a long, b long, v string",
        ).repartitionByRange(4, "a", "b").sortWithinPartitions("a", "b")
        commit.rewrite_files(
            host, path, [],
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        src = spark.createDataFrame(
            [(0, 0, "NEW"), (4, 9, "NEW2"), (9, 9, "INS")],
            "a long, b long, v string",
        )
        st = merge_into(host, path, src, ["a", "b"], commit=commit)
        assert st.rows_upserted == 3
        got = {
            (r.a, r.b): r.v
            for r in commit.read_table(host, path, None).collect()
        }
        assert got[(0, 0)] == "NEW" and got[(4, 9)] == "NEW2"
        assert got[(9, 9)] == "INS" and got[(1, 0)] == "v1"
        assert len(got) == 51

    def test_string_key_merge_prunes_and_applies(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(f"doc-{i:04d}", f"v{i}") for i in range(100)],
            "k string, v string",
        ).repartitionByRange(4, "k").sortWithinPartitions("k")
        commit.rewrite_files(
            host, path, [],
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        src = spark.createDataFrame(
            [("doc-0001", "NEW")], "k string, v string"
        )
        st = merge_into(host, path, src, ["k"], commit=commit)
        assert 1 <= st.files_rewritten < st.files_total == 4
        got = {
            r.k: r.v
            for r in commit.read_table(host, path, None).collect()
        }
        assert got["doc-0001"] == "NEW" and got["doc-0099"] == "v99"


class TestMergeClauses:
    """r12: the Delta MERGE clause surface — WHEN MATCHED [AND cond]
    THEN UPDATE/DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT — with
    DuckDB differentials and unchanged file-pruning posture."""

    def _fx(self, spark, tmp_path, n=50, files=3):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path, n=n, files=files)
        return host, commit, path

    def test_conditional_update_matches_duckdb(self, spark, tmp_path):
        """WHEN MATCHED AND s.v > t.v THEN UPDATE: only matched pairs
        where the condition holds are replaced."""
        import duckdb

        host, commit, path = self._fx(spark, tmp_path)
        # 'X3' > 'v3' is false, 'w17' > 'v17' is true (lexicographic)
        src = spark.createDataFrame(
            [(3, "X3"), (17, "w17"), (60, "w60")], SCHEMA
        )
        merge_into(
            host, path, src, ["k"], commit=commit,
            matched_condition="s.v > t.v",
        )
        got = _rows(spark, host, commit, path)
        want = duckdb.connect().execute(
            """
            WITH tgt AS (SELECT k, 'v' || CAST(k AS VARCHAR) v
                         FROM range(50) t(k)),
                 src(k, v) AS (VALUES (3, 'X3'), (17, 'w17'),
                                      (60, 'w60')),
                 upd AS (SELECT s.k, s.v FROM src s JOIN tgt t
                         USING (k) WHERE s.v > t.v)
            SELECT t.k, t.v FROM tgt t
            WHERE t.k NOT IN (SELECT k FROM upd)
            UNION ALL SELECT k, v FROM upd
            UNION ALL
            SELECT s.k, s.v FROM src s
            WHERE s.k NOT IN (SELECT k FROM tgt)
            """
        ).fetchall()
        assert got == {k: v for k, v in want}
        assert got[3] == "v3" and got[17] == "w17" and got[60] == "w60"

    def test_matched_delete_matches_duckdb(self, spark, tmp_path):
        """WHEN MATCHED THEN DELETE (no insert): the source is a list
        of keys to erase where present."""
        import duckdb

        host, commit, path = self._fx(spark, tmp_path)
        src = spark.createDataFrame(
            [(5, "ignored"), (49, "ignored"), (99, "ignored")], SCHEMA
        )
        st = merge_into(
            host, path, src, ["k"], commit=commit,
            when_matched="delete", insert_unmatched=False,
        )
        got = _rows(spark, host, commit, path)
        want = duckdb.connect().execute(
            """
            WITH tgt AS (SELECT k, 'v' || CAST(k AS VARCHAR) v
                         FROM range(50) t(k))
            SELECT k, v FROM tgt WHERE k NOT IN (5, 49, 99)
            """
        ).fetchall()
        assert got == {k: v for k, v in want}
        assert st.files_rewritten < st.files_total  # pruning intact

    def test_conditional_matched_delete(self, spark, tmp_path):
        host, commit, path = self._fx(spark, tmp_path)
        src = spark.createDataFrame(
            [(5, "del"), (6, "keep")], SCHEMA
        )
        merge_into(
            host, path, src, ["k"], commit=commit,
            when_matched="delete", matched_condition="s.v = 'del'",
            insert_unmatched=False,
        )
        got = _rows(spark, host, commit, path)
        assert 5 not in got and got[6] == "v6"

    def test_not_matched_condition_filters_inserts(
        self, spark, tmp_path
    ):
        host, commit, path = self._fx(spark, tmp_path)
        src = spark.createDataFrame(
            [(100, "yes"), (101, "no"), (7, "upd")], SCHEMA
        )
        merge_into(
            host, path, src, ["k"], commit=commit,
            not_matched_condition="s.v = 'yes'",
        )
        got = _rows(spark, host, commit, path)
        assert got[100] == "yes" and 101 not in got
        assert got[7] == "upd"  # matched update unaffected

    def test_when_matched_none_leaves_targets(self, spark, tmp_path):
        """Insert-if-absent (WHEN NOT MATCHED THEN INSERT only)."""
        host, commit, path = self._fx(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "SHOULD-NOT-LAND"), (200, "new")], SCHEMA
        )
        merge_into(
            host, path, src, ["k"], commit=commit, when_matched=None,
        )
        got = _rows(spark, host, commit, path)
        assert got[3] == "v3" and got[200] == "new"

    def test_clause_pruning_posture_unchanged(self, spark, tmp_path):
        """A conditional merge still reads/rewrites only envelope
        files — untouched files carried forward verbatim."""
        host, commit, path = self._fx(spark, tmp_path)
        before = set(commit.member_files(host, path))
        src = spark.createDataFrame([(1, "zz1")], SCHEMA)
        st = merge_into(
            host, path, src, ["k"], commit=commit,
            matched_condition="s.v > t.v",
        )
        after = set(commit.member_files(host, path))
        assert 1 <= st.files_rewritten < st.files_total
        assert len(before & after) == st.files_total - st.files_rewritten

    def test_invalid_when_matched_raises(self, spark, tmp_path):
        host, commit, path = self._fx(spark, tmp_path)
        src = spark.createDataFrame([(1, "x")], SCHEMA)
        with pytest.raises(ValidationError):
            merge_into(
                host, path, src, ["k"], commit=commit,
                when_matched="upsert",
            )

    def test_directory_mode_clauses_match(self, spark, tmp_path):
        """The directory backend gets identical clause semantics via
        the whole-table rewrite."""
        host, commit = CommitHost(spark), ParquetLeaseCommit()
        path = str(tmp_path / "t")
        _seed(spark, host, commit, path, n=20, files=2)
        src = spark.createDataFrame([(5, "x"), (6, "keep")], SCHEMA)
        merge_into(
            host, path, src, ["k"], commit=commit,
            when_matched="delete", matched_condition="s.v = 'x'",
            insert_unmatched=False,
        )
        got = _rows(spark, host, commit, path)
        assert 5 not in got and got[6] == "v6" and len(got) == 19

    def test_clause_merge_row_changes_feed_mirror(
        self, spark, tmp_path
    ):
        """Conditional clauses emit exactly the APPLIED rows as CDF:
        a keyed mirror replays them to the same state."""
        from redis_lsm_timeseries_spark.changefeed import mirror_changes

        host, commit, path = self._fx(spark, tmp_path, n=20, files=2)
        dst = str(tmp_path / "dst")
        mirror_changes(host, path, dst, keys=["k"], commit=commit)
        merge_into(
            host, path,
            spark.createDataFrame([(5, "del"), (6, "keep")], SCHEMA),
            ["k"], commit=commit,
            when_matched="delete", matched_condition="s.v = 'del'",
            insert_unmatched=False,
        )
        merge_into(
            host, path,
            spark.createDataFrame([(7, "zz7"), (300, "new")], SCHEMA),
            ["k"], commit=commit, matched_condition="s.v > t.v",
        )
        m = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"
        assert _rows(spark, host, commit, dst) == _rows(
            spark, host, commit, path
        )

class TestMultiClauseMerge:
    """r17 (VERDICT r16 #1): ordered multi-clause MERGE with
    column-level SET — first-matching-clause-wins per matched pair,
    unset columns keep target values, identical semantics in rewrite
    and dv modes, clause-typed CDF."""

    SCHEMA3 = "k long, v double, note string"

    def _fx(self, spark, tmp_path, name="t"):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / name)
        df = spark.createDataFrame(
            [(i, float(i), "keep") for i in range(1, 9)], self.SCHEMA3
        ).repartitionByRange(2, "k").sortWithinPartitions("k")
        commit.rewrite_files(
            host, path, [],
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        src = spark.createDataFrame(
            [
                (1, 10.0, "del"), (2, 20.0, "del"),
                (3, 30.0, "up"), (4, 40.0, "up"),
                (20, 200.0, "new"),
            ],
            self.SCHEMA3,
        )
        return host, commit, path, src

    #: soft-delete upsert final state (the shape VERDICT r16 names
    #: as the most common real MERGE): matched 'del' rows erased,
    #: other matched rows get v = s.v + t.v, unmatched inserted
    SOFT_DELETE_WANT = {
        3: (33.0, "keep"), 4: (44.0, "keep"), 5: (5.0, "keep"),
        6: (6.0, "keep"), 7: (7.0, "keep"), 8: (8.0, "keep"),
        20: (200.0, "new"),
    }

    def _soft_delete(self, host, commit, path, src, **kw):
        return merge_into(
            host, path, src, ["k"], commit=commit,
            when_matched=[
                ("delete", "s.note = 'del'"),
                ("update", {"v": "s.v + t.v"}),
            ],
            **kw,
        )

    def _state(self, host, commit, path):
        return {
            r.k: (r.v, r.note)
            for r in commit.read_table(host, path).collect()
        }

    def test_soft_delete_upsert_matches_duckdb(self, spark, tmp_path):
        import duckdb

        host, commit, path, src = self._fx(spark, tmp_path)
        st = self._soft_delete(host, commit, path, src)
        got = self._state(host, commit, path)
        want_rows = duckdb.connect().execute(
            """
            WITH tgt AS (SELECT k, CAST(k AS DOUBLE) v, 'keep' note
                         FROM range(1, 9) t(k)),
                 src(k, v, note) AS (VALUES
                   (1, 10.0, 'del'), (2, 20.0, 'del'),
                   (3, 30.0, 'up'), (4, 40.0, 'up'),
                   (20, 200.0, 'new'))
            SELECT t.k,
                   CASE WHEN s.k IS NOT NULL THEN s.v + t.v
                        ELSE t.v END v,
                   t.note
            FROM tgt t LEFT JOIN src s USING (k)
            WHERE s.note IS DISTINCT FROM 'del'
            UNION ALL
            SELECT s.k, s.v, s.note FROM src s
            WHERE s.k NOT IN (SELECT k FROM tgt)
            """
        ).fetchall()
        assert got == {k: (v, n) for k, v, n in want_rows}
        assert got == self.SOFT_DELETE_WANT
        # the updated rows count as applied; deletes don't
        assert st.rows_upserted == 3  # k=3, k=4 updates + k=20 insert

    def test_dv_mode_equivalent(self, spark, tmp_path):
        host, commit, path, src = self._fx(spark, tmp_path)
        self._soft_delete(host, commit, path, src, mode="dv")
        assert self._state(host, commit, path) == self.SOFT_DELETE_WANT

    def test_first_matching_clause_wins(self, spark, tmp_path):
        """Both clause conditions hold for k<=2 ('del' rows also have
        s.v >= 10) — the EARLIER clause must apply."""
        host, commit, path, src = self._fx(spark, tmp_path)
        merge_into(
            host, path, src, ["k"], commit=commit,
            when_matched=[
                ("update", {"note": "'first'"}, "s.v >= 10"),
                ("delete", None),
            ],
            insert_unmatched=False,
        )
        got = self._state(host, commit, path)
        # every matched row hit clause 1 (all s.v >= 10): none deleted
        assert got[1] == (1.0, "first") and got[2] == (2.0, "first")
        assert got[5] == (5.0, "keep") and len(got) == 8

    def test_column_level_set_keeps_unset_target_columns(
        self, spark, tmp_path
    ):
        """SET touches only its columns; expressions see PRE-update t
        values even when a SET column feeds another's expression."""
        host, commit, path, src = self._fx(spark, tmp_path)
        merge_into(
            host, path, src.where("k = 3"), ["k"], commit=commit,
            when_matched=[
                ("update", {"v": "t.v * 10", "note": "concat(t.note, '+', s.note)"}),
            ],
            insert_unmatched=False,
        )
        got = self._state(host, commit, path)
        assert got[3] == (30.0, "keep+up")  # note kept OLD t.note
        assert got[4] == (4.0, "keep")      # unmatched row untouched

    def test_clause_typed_cdf_replays(self, spark, tmp_path):
        """Update clauses ride as 'upsert' change rows (post-image),
        delete clauses as 'delete' rows — a keyed mirror replays the
        multi-clause merge row-incrementally to the same state."""
        from redis_lsm_timeseries_spark.changefeed import mirror_changes

        host, commit, path, src = self._fx(spark, tmp_path)
        dst = str(tmp_path / "dst")
        mirror_changes(host, path, dst, keys=["k"], commit=commit)
        self._soft_delete(host, commit, path, src)
        m = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"
        assert self._state(host, commit, dst) == self.SOFT_DELETE_WANT

    def test_directory_mode_multi_clause(self, spark, tmp_path):
        host = CommitHost(spark)
        commit = ParquetLeaseCommit()
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, float(i), "keep") for i in range(1, 9)], self.SCHEMA3
        ).write.mode("overwrite").parquet(path)
        src = spark.createDataFrame(
            [
                (1, 10.0, "del"), (2, 20.0, "del"),
                (3, 30.0, "up"), (4, 40.0, "up"),
                (20, 200.0, "new"),
            ],
            self.SCHEMA3,
        )
        self._soft_delete(host, commit, path, src)
        assert self._state(host, commit, path) == self.SOFT_DELETE_WANT

    def test_clause_list_validation(self, spark, tmp_path):
        host, commit, path, src = self._fx(spark, tmp_path)
        cases = [
            # non-last unconditional clause: later ones unreachable
            dict(when_matched=[("update",), ("delete", "s.v > 0")]),
            # delete takes no sets
            dict(when_matched=[("delete", {"v": "1"})]),
            # unknown SET column
            dict(when_matched=[("update", {"nope": "1"})]),
            # two conditions in one clause
            dict(when_matched=[("update", "s.v > 0", "t.v > 0")]),
            # matched_condition is the legacy scalar surface only
            dict(
                when_matched=[("delete", None)],
                matched_condition="s.v > 0",
            ),
            # unknown action
            dict(when_matched=[("upsert",)]),
        ]
        for kw in cases:
            with pytest.raises(ValidationError):
                merge_into(host, path, src, ["k"], commit=commit, **kw)

    def test_pruning_posture_unchanged_by_clause_list(
        self, spark, tmp_path
    ):
        """Multi-clause merges still prune to the key envelope —
        files outside it are carried forward byte-untouched."""
        host, commit, path, src = self._fx(spark, tmp_path)
        before = set(commit.member_files(host, path))
        st = merge_into(
            host, path, src.where("k <= 2"), ["k"], commit=commit,
            when_matched=[
                ("delete", "s.note = 'del'"),
                ("update", {"v": "s.v"}),
            ],
            insert_unmatched=False,
        )
        after = set(commit.member_files(host, path))
        assert 1 <= st.files_rewritten < st.files_total
        assert len(before & after) == st.files_total - st.files_rewritten

class TestNotMatchedBySource:
    """r17: the third Delta clause family — WHEN NOT MATCHED BY
    SOURCE [AND cond] THEN UPDATE SET col = expr | DELETE, applied to
    target rows with NO source match. File posture: the affected set
    widens to each condition's stats envelope (whole member when
    unbounded); guards widen identically."""

    SCHEMA3 = "k long, v double, note string"

    def _fx(self, spark, tmp_path, name="t"):
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / name)
        df = spark.createDataFrame(
            [(i, float(i), "keep") for i in range(1, 9)], self.SCHEMA3
        ).repartitionByRange(4, "k").sortWithinPartitions("k")
        commit.rewrite_files(
            host, path, [],
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        src = spark.createDataFrame(
            [(3, 30.0, "up"), (20, 200.0, "new")], self.SCHEMA3
        )
        return host, commit, path, src

    WANT = {
        3: (30.0, "up"), 4: (4.0, "stale"), 5: (5.0, "stale"),
        6: (6.0, "keep"), 7: (7.0, "keep"), 8: (8.0, "keep"),
        20: (200.0, "new"),
    }

    def _state(self, host, commit, path):
        return {
            r.k: (r.v, r.note)
            for r in commit.read_table(host, path).collect()
        }

    def _sync_merge(self, host, commit, path, src, **kw):
        return merge_into(
            host, path, src, ["k"], commit=commit,
            when_matched="update",
            not_matched_by_source=[
                ("delete", "t.k <= 2"),
                ("update", {"note": "'stale'"}, "t.k <= 5"),
            ],
            **kw,
        )

    def test_sync_merge_matches_duckdb(self, spark, tmp_path):
        import duckdb

        host, commit, path, src = self._fx(spark, tmp_path)
        self._sync_merge(host, commit, path, src)
        got = self._state(host, commit, path)
        want = duckdb.connect().execute(
            """
            WITH tgt AS (SELECT k, CAST(k AS DOUBLE) v, 'keep' note
                         FROM range(1, 9) t(k)),
                 src(k, v, note) AS (VALUES (3, 30.0, 'up'),
                                            (20, 200.0, 'new'))
            SELECT t.k,
                   CASE WHEN s.k IS NOT NULL THEN s.v ELSE t.v END v,
                   CASE WHEN s.k IS NOT NULL THEN s.note
                        WHEN t.k <= 5 THEN 'stale'
                        ELSE t.note END note
            FROM tgt t LEFT JOIN src s USING (k)
            WHERE NOT (s.k IS NULL AND t.k <= 2)
            UNION ALL
            SELECT s.k, s.v, s.note FROM src s
            WHERE s.k NOT IN (SELECT k FROM tgt)
            """
        ).fetchall()
        assert got == {k: (v, n) for k, v, n in want}
        assert got == self.WANT

    def test_dv_mode_equivalent(self, spark, tmp_path):
        host, commit, path, src = self._fx(spark, tmp_path)
        self._sync_merge(host, commit, path, src, mode="dv")
        assert self._state(host, commit, path) == self.WANT

    def test_empty_source_sync_deletions(self, spark, tmp_path):
        """The Delta sync shape: empty source + unconditional BY
        SOURCE DELETE erases everything."""
        host, commit, path, _ = self._fx(spark, tmp_path)
        empty = spark.createDataFrame([], self.SCHEMA3)
        merge_into(
            host, path, empty, ["k"], commit=commit,
            when_matched=None, insert_unmatched=False,
            not_matched_by_source=[("delete",)],
        )
        assert (
            commit.read_table(host, path, self.SCHEMA3).count() == 0
        )

    def test_bounded_condition_prunes_files(self, spark, tmp_path):
        """A by-source condition with a stats envelope widens the
        affected set only to in-band files — out-of-band files are
        carried forward byte-untouched."""
        host, commit, path, src = self._fx(spark, tmp_path)
        before = set(commit.member_files(host, path))
        st = merge_into(
            host, path, src.where("k = 3"), ["k"], commit=commit,
            when_matched="update", insert_unmatched=False,
            not_matched_by_source=[("delete", "t.k <= 2")],
        )
        after = set(commit.member_files(host, path))
        assert 1 <= st.files_rewritten < st.files_total
        assert len(before & after) == st.files_total - st.files_rewritten
        assert {
            r.k for r in commit.read_table(host, path).collect()
        } == {3, 4, 5, 6, 7, 8}

    def test_by_source_cdf_replays(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.changefeed import mirror_changes

        host, commit, path, src = self._fx(spark, tmp_path)
        dst = str(tmp_path / "dst")
        mirror_changes(host, path, dst, keys=["k"], commit=commit)
        self._sync_merge(host, commit, path, src)
        m = mirror_changes(host, path, dst, keys=["k"], commit=commit)
        assert m.mode == "row-incremental"
        assert self._state(host, commit, dst) == self.WANT

    def test_validation(self, spark, tmp_path):
        host, commit, path, src = self._fx(spark, tmp_path)
        cases = [
            # source-alias reference in a by-source condition
            dict(not_matched_by_source=[("delete", "s.v > 0")]),
            # source-alias reference in a by-source SET expression
            dict(not_matched_by_source=[("update", {"v": "s.v"})]),
            # '*' sets by source
            dict(not_matched_by_source=[("update", "*")]),
            # non-last unconditional by-source clause
            dict(
                not_matched_by_source=[
                    ("delete",), ("update", {"v": "t.v"}),
                ]
            ),
        ]
        for kw in cases:
            with pytest.raises(ValidationError):
                merge_into(host, path, src, ["k"], commit=commit, **kw)
