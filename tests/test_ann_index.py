"""Persistent IVF index (operators/ann_index.py, VERDICT r9 stretch):
build -> restart (fresh commit objects, all state on disk) -> probe
with results identical to the in-memory path; atomic two-member swap
on rebuild; snapshot isolation for a reader concurrent with a rebuild."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.commit import (
    CommitHost,
    LOG_DIR,
    ManifestCommit,
)
from redis_lsm_timeseries_spark.operators.ann_index import (
    CENTROIDS_MEMBER,
    VECTORS_MEMBER,
    build_ivf_index,
    ivf_index_topk,
)
from redis_lsm_timeseries_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    train_ivf_centroids,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
N_LIST = 8


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _member(spark, path, member):
    """A committed index member, read through a fresh commit/host pair."""
    return ManifestCommit().read_table(CommitHost(spark), f"{path}/{member}")


def _topk_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


class TestBuildAndServe:
    @pytest.fixture(scope="class")
    def index(self, emb, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("ann") / "ivf")
        meta = build_ivf_index(emb, path, n_list=N_LIST, iters=2)
        return path, meta

    def test_build_commits_both_members_in_one_entry(self, spark, index):
        path, meta = index
        assert meta["n_list"] == N_LIST and meta["n_vectors"] > 0
        # ONE log entry covers the atomic two-member swap
        logs = [
            f for f in os.listdir(f"{path}/{LOG_DIR}") if f.endswith(".json")
        ]
        assert len(logs) == 1
        host = CommitHost(spark)
        c = ManifestCommit()
        assert c.table_exists(host, f"{path}/{CENTROIDS_MEMBER}")
        assert c.table_exists(host, f"{path}/{VECTORS_MEMBER}")

    def test_served_results_match_in_memory_path(self, spark, emb, index):
        """The persisted index must serve EXACTLY what ivf_topk computes
        from the same (deterministic) training — same centroids, same
        assignments, same ranking."""
        path, _ = index
        queries = emb.where(F.col("vec_id") < 10)
        served = ivf_index_topk(queries, path, k=10, n_probe=3).collect()
        cents = train_ivf_centroids(emb, n_list=N_LIST, iters=2)
        mem = ivf_topk(emb, queries, cents, k=10, n_probe=3).collect()
        key = lambda r: (r.query_id, r.rnk)
        assert sorted(
            (r.query_id, r.rnk, r.neighbor_id, round(r.cosine_sim, 12))
            for r in served
        ) == sorted(
            (r.query_id, r.rnk, r.neighbor_id, round(r.cosine_sim, 12))
            for r in mem
        )

    def test_survives_restart(self, spark, emb, index):
        """A 'restarted' server — fresh commit/host objects, nothing
        in memory — loads the quantizer from the manifest and serves
        with unchanged recall."""
        path, _ = index
        assert _member(spark, path, CENTROIDS_MEMBER).count() == N_LIST
        queries = emb.where(F.col("vec_id") < 20)
        exact = _topk_sets(cosine_topk(emb, queries, k=10).collect())
        approx = _topk_sets(
            ivf_index_topk(queries, path, k=10, n_probe=3).collect()
        )
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        recall = hits / sum(len(v) for v in exact.values())
        assert recall >= 0.5, f"recall {recall:.3f}"  # same gate as test_ivf

    def test_full_probe_from_index_equals_brute_force(
        self, spark, emb, index
    ):
        path, _ = index
        queries = emb.where(F.col("vec_id") < 5)
        exact = _topk_sets(cosine_topk(emb, queries, k=10).collect())
        full = _topk_sets(
            ivf_index_topk(queries, path, k=10, n_probe=N_LIST).collect()
        )
        assert full == exact


class TestRebuild:
    def test_rebuild_swaps_generations_atomically(
        self, spark, emb, tmp_path
    ):
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, n_list=4, iters=1)
        meta2 = build_ivf_index(emb, path, n_list=N_LIST, iters=2)
        assert meta2["version"] == 1  # second atomic entry
        # both members reflect the NEW generation together
        assert _member(spark, path, CENTROIDS_MEMBER).count() == N_LIST
        lists = {
            r.list_id
            for r in _member(spark, path, VECTORS_MEMBER)
            .select("list_id")
            .distinct()
            .collect()
        }
        assert lists <= set(range(N_LIST)) and len(lists) > 1

    def test_reader_pinned_before_rebuild_is_unaffected(
        self, spark, emb, tmp_path
    ):
        """Snapshot isolation under rebuild: a vectors DataFrame
        resolved against generation 0 still collects its OWN rows after
        a rebuild replaced both members and vacuumed (retention keeps
        retained-version files), while a fresh read sees generation 1."""
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, n_list=4, iters=1)
        pinned = _member(spark, path, VECTORS_MEMBER)
        n0 = pinned.count()
        lists0 = {r.list_id for r in pinned.select("list_id").distinct().collect()}
        assert lists0 <= set(range(4))
        build_ivf_index(emb, path, n_list=N_LIST, iters=2)
        # the pinned handle replays its generation exactly
        assert pinned.count() == n0
        assert {
            r.list_id for r in pinned.select("list_id").distinct().collect()
        } == lists0
        # a new resolve serves the new generation
        fresh_lists = {
            r.list_id
            for r in _member(spark, path, VECTORS_MEMBER)
            .select("list_id")
            .distinct()
            .collect()
        }
        assert len(fresh_lists) > 1 and fresh_lists <= set(range(N_LIST))

    def test_time_travel_reads_previous_generation(self, spark, emb, tmp_path):
        """The r10 manifest features compose: version=0 resolves the
        first build's members exactly."""
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, n_list=4, iters=1)
        build_ivf_index(emb, path, n_list=N_LIST, iters=2)
        host = CommitHost(spark)
        c = ManifestCommit()
        old_cents = c.read_table(
            host, f"{path}/{CENTROIDS_MEMBER}", version=0
        ).collect()
        assert len(old_cents) == 4
        new_cents = c.read_table(host, f"{path}/{CENTROIDS_MEMBER}")
        assert new_cents.count() == N_LIST


class TestEmptyCorpus:
    def test_build_on_empty_corpus_raises_typed_error(
        self, spark, emb, tmp_path
    ):
        """ADVICE r10: an empty corpus used to commit an empty vectors
        member whose read-back raised a raw FileNotFoundError; the
        precondition now fails fast with a typed ValidationError."""
        from redis_lsm_timeseries_spark.errors import ValidationError

        path = str(tmp_path / "ivf-empty")
        with pytest.raises(ValidationError, match="empty"):
            build_ivf_index(emb.limit(0), path, n_list=N_LIST)
        # nothing half-committed on disk
        assert not os.path.exists(f"{path}/{LOG_DIR}")


class TestServeTimeFileSkipping:
    def test_probe_prunes_vector_files_with_identical_results(
        self, spark, emb, tmp_path
    ):
        """Round 11: the vectors member is range-clustered by list_id,
        so a probe's list set prunes files at plan time — results
        identical to the full-member read."""
        from redis_lsm_timeseries_spark.commit import CommitHost

        path = str(tmp_path / "ivf-skip")
        build_ivf_index(emb, path, n_list=N_LIST, iters=2)
        host = CommitHost(spark, None)
        commit = ManifestCommit()
        vec_path = f"{path}/{VECTORS_MEMBER}"
        total_files = commit.table_file_count(host, vec_path)
        assert total_files > 1  # range clustering produced a spread
        # a single-list probe set must prune to a strict subset
        kept, total = commit.prune_files(host, vec_path, {"list_id": {0}})
        assert total == total_files and 0 < len(kept) < total
        queries = emb.limit(3)
        got = ivf_index_topk(
            queries, path, k=5, n_probe=2
        ).collect()
        assert got  # non-trivial result through the pruned path
        # pruned serve == unpruned serve (read the member fully by
        # comparing against a probe of every list)
        all_lists = ivf_index_topk(
            queries, path, k=5, n_probe=N_LIST
        )
        # with n_probe == n_list the probe covers every list; the
        # top-k over MORE lists is a superset-quality result, so only
        # check the pruned path's neighbors appear with identical
        # scores there
        full = {
            (r.query_id, r.neighbor_id): r.cosine_sim
            for r in all_lists.collect()
        }
        for r in got:
            if (r.query_id, r.neighbor_id) in full:
                assert (
                    abs(full[(r.query_id, r.neighbor_id)] - r.cosine_sim)
                    < 1e-12
                )
