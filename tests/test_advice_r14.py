"""Adversarial hardening of a round-14 surface: the dropped-name
remint under racing schema evolutions."""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.commit import (
    CommitHost,
    ManifestCommit,
)

SCHEMA = "k long, v int, name string"


def _fx(spark, tmp_path):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / "t")
    commit.append_table_with_meta(
        host, path,
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], SCHEMA)
        .coalesce(1),
        {},
    )
    return host, commit, path


class TestRemintRaces:
    def test_remint_retries_through_a_racing_evolution(
        self, spark, tmp_path, monkeypatch
    ):
        """A non-overlapping schema evolution landing between the
        remint's entry read and its CAS commit must not fail the
        append — the remint re-reads and retries, and the racing
        change survives alongside the minted id."""
        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t4")
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(1, 10, 100, "a"), (2, 20, 200, "b")],
                "k long, v int, w int, name string",
            ).coalesce(1),
            {},
        )
        commit.drop_column(host, path, "v")
        real = ManifestCommit._current_entry
        armed = {"n": 0}

        def racing(self_, store, root):
            v, entry = real(self_, store, root)
            # inject exactly one racing widen INSIDE the remint's
            # read-then-CAS window
            if armed["n"] == 0 and "__schema__:" in str(entry.get("app", {})):
                armed["n"] = 1
                monkeypatch.setattr(
                    ManifestCommit, "_current_entry", real
                )
                commit.widen_column(host, path, "w", "long")
                monkeypatch.setattr(
                    ManifestCommit, "_current_entry", racing
                )
            return v, entry

        monkeypatch.setattr(ManifestCommit, "_current_entry", racing)
        commit.append_table_with_meta(
            host, path,
            spark.createDataFrame(
                [(9, 99, 900, "z")], "k long, v int, w int, name string"
            ).coalesce(1),
            {},
        )
        monkeypatch.setattr(ManifestCommit, "_current_entry", real)
        meta = commit.schema_meta(host, path)
        assert meta["map"]["v"].startswith("v__r")  # the remint landed
        assert meta["widen"] == {"w": "long"}  # the racing widen too
        df = commit.read_table(host, path, None)
        assert dict(df.dtypes)["w"] == "bigint"
        got = sorted((r.k, r.v, r.w) for r in df.collect())
        assert got == [(1, None, 100), (2, None, 200), (9, 99, 900)]

    def test_rename_racing_a_stale_named_append_fails_loudly(
        self, spark, tmp_path
    ):
        """A writer appending under a column name a concurrent rename
        just retired gets a LOUD error (the Delta metadata-conflict
        posture), never a silent aliasing onto the renamed column's
        physical name."""
        host, commit, path = _fx(spark, tmp_path)
        commit.rename_column(host, path, "name", "label")
        from redis_lsm_timeseries_spark.errors import ValidationError

        with pytest.raises(ValidationError, match="PHYSICAL"):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame([(9, 99, "z")], SCHEMA)
                .coalesce(1),
                {},
            )

    def test_two_writers_reusing_the_name_converge_on_one_id(
        self, spark, tmp_path
    ):
        """Sequential appends both carrying the re-added column: the
        second observes the first's minted id (no second remint)."""
        host, commit, path = _fx(spark, tmp_path)
        commit.drop_column(host, path, "v")
        for k in (8, 9):
            commit.append_table_with_meta(
                host, path,
                spark.createDataFrame([(k, k * 11, "x")], SCHEMA)
                .coalesce(1),
                {},
            )
        meta = commit.schema_meta(host, path)
        # exactly one minted id
        assert list(meta["phys_types"]) == [meta["map"]["v"]]
        got = sorted(
            (r.k, r.v)
            for r in commit.read_table(host, path, None).collect()
        )
        assert got == [(1, None), (2, None), (8, 88), (9, 99)]
