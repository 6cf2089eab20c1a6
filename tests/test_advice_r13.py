"""ADVICE r12 items, pinned (round 13):

1. Duplicate source keys reaching a conditional merge clause raise the
   typed error BEFORE the left-join fan-out could let one (t,s) pair
   fail the condition while another passes (`_resolve_source_counted` guards
   every merge path; this pins the conditional-clause one).
2. Orphan `.claim-*` temp files from a crashed create_exclusive are
   swept by vacuum past the grace window (tested in
   test_checkpointing.py::TestMemberPartCheckpoints).
3. Naive-datetime-is-UTC convention documented on prune_files.
4. version_history surfaces a racing vacuum as the typed retry/
   re-list contract, never a raw FileNotFoundError.
"""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.merge import merge_into

SCHEMA = "k long, v long"


def _fx(spark, tmp_path):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / "t")
    commit.append_table_with_meta(
        host, path,
        spark.createDataFrame([(1, 10), (2, 20)], SCHEMA).coalesce(1),
        {},
    )
    return host, commit, path


class TestConditionalMergeDuplicateSource:
    def test_duplicate_source_keys_raise_with_matched_condition(
        self, spark, tmp_path
    ):
        """One duplicate pair could pass the condition while the other
        fails — the row would both survive and be replaced. The typed
        duplicate-source error fires first."""
        host, commit, path = _fx(spark, tmp_path)
        dup = spark.createDataFrame([(1, 5), (1, 99)], SCHEMA)
        with pytest.raises(ValidationError, match="duplicate source key"):
            merge_into(
                host, path, dup, ["k"],
                matched_condition="s.v > t.v", commit=commit,
            )

    def test_order_col_resolves_duplicates_by_lww_then_condition(
        self, spark, tmp_path
    ):
        """With order_col the documented LWW rule picks ONE source row
        per key before the clause evaluates — deterministic, no
        fan-out."""
        host, commit, path = _fx(spark, tmp_path)
        dup = spark.createDataFrame([(1, 5), (1, 99)], SCHEMA)
        merge_into(
            host, path, dup, ["k"], order_col="v",
            matched_condition="s.v > t.v", commit=commit,
        )
        got = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, SCHEMA).collect()
        )
        # LWW winner (1, 99) passes 99 > 10; target row replaced once
        assert got == [(1, 99), (2, 20)]


class TestVersionHistoryVacuumRace:
    def test_racing_vacuum_mid_walk_relists_and_succeeds(
        self, spark, tmp_path, monkeypatch
    ):
        """An entry pruned between version_history's listing and its
        read must trigger a fresh walk over the new horizon (the
        _reconstruct retry contract), not a raw FileNotFoundError."""
        host, commit, path = _fx(spark, tmp_path)
        for i in range(15):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame([(100 + i, i)], SCHEMA).coalesce(1),
                {},
            )
        real = ManifestCommit._read_entry_raw
        fired = {"done": False}

        def racing(self_, store, root, v, label):
            if not fired["done"]:
                fired["done"] = True
                # a racing vacuum prunes to the newest 3 versions
                # between the listing and the first read
                commit.vacuum(store, root, retain_versions=3, grace_s=0)
            return real(self_, store, root, v, label)

        monkeypatch.setattr(ManifestCommit, "_read_entry_raw", racing)
        hist = commit.version_history(host, path)
        assert fired["done"]
        assert hist, "history empty after racing vacuum"
        # the walk covers exactly the retained horizon, oldest first
        versions = [h["version"] for h in hist]
        assert versions == sorted(versions)
        assert versions[-1] == 15
        # and row counts are consistent with the final state
        assert hist[-1]["members"][""] == len(
            commit.member_files(host, path)
        )
