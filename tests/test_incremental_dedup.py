"""Incremental (batch-vs-corpus) dedup admission + window manifest:
DuckDB differential for the exact path, recall/precision semantics for
the near-dup path, reconstruction properties for the manifest."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.operators.dedup import (
    build_band_index,
    content_digest,
    incremental_exact_dedup,
    incremental_near_dup,
)
from redis_lsm_timeseries_spark.operators.packing import (
    pack_documents,
    window_manifest,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    # take a stable half as "corpus", build the batch from the rest
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def corpus(docs):
    return docs.where("doc_id % 2 = 0")


@pytest.fixture(scope="module")
def batch(spark, docs, corpus):
    """A batch of: corpus re-sends (exact dups), fresh docs, and an
    intra-batch double-send."""
    resend = corpus.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    fresh = docs.where("doc_id % 2 = 1").limit(5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    double = fresh.limit(2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return resend.unionByName(fresh).unionByName(double)


class TestIncrementalExact:
    def test_verdicts(self, spark, corpus, batch):
        idx = corpus.select(content_digest("text").alias("digest"))
        out = {
            r.doc_id: r
            for r in incremental_exact_dedup(batch, idx).collect()
        }
        assert len(out) == batch.count()
        resends = [k for k in out if 1_000_000 <= k < 2_000_000]
        fresh = [k for k in out if 2_000_000 <= k < 3_000_000]
        doubles = [k for k in out if k >= 3_000_000]
        assert all(out[k].dup_of_corpus for k in resends)
        assert all(not out[k].dup_of_corpus for k in fresh + doubles)
        assert all(out[k].admit for k in fresh)
        # doubles lose the min-id race to their fresh twin
        assert all(out[k].dup_in_batch and not out[k].admit for k in doubles)

    def test_matches_duckdb(self, spark, corpus, batch, tmp_path):
        cp, bp = str(tmp_path / "c.parquet"), str(tmp_path / "b.parquet")
        corpus.toPandas().to_parquet(cp)
        batch.toPandas().to_parquet(bp)
        con = duckdb.connect()
        want = con.execute(f"""
            WITH b AS (SELECT doc_id, md5(text) AS digest FROM '{bp}'),
            c AS (SELECT DISTINCT md5(text) AS digest FROM '{cp}')
            SELECT b.doc_id,
                   (c.digest IS NOT NULL) AS dup_of_corpus,
                   (b.doc_id != min(b.doc_id) OVER (PARTITION BY b.digest))
                       AS dup_in_batch
            FROM b LEFT JOIN c USING (digest)
            ORDER BY b.doc_id
        """).fetchall()
        idx = corpus.select(content_digest("text").alias("digest"))
        got = (
            incremental_exact_dedup(batch, idx)
            .orderBy("doc_id")
            .collect()
        )
        assert [(r.doc_id, r.dup_of_corpus, r.dup_in_batch) for r in got] == [
            tuple(w) for w in want
        ]
        con.close()

    def test_admission_is_idempotent(self, spark, corpus, batch):
        """Replaying an admitted batch against the grown index admits
        nothing — the reference's content-keyed write idempotency."""
        idx = corpus.select(content_digest("text").alias("digest"))
        admitted = incremental_exact_dedup(batch, idx).where("admit")
        grown = idx.unionByName(
            batch.join(admitted.select("doc_id"), "doc_id").select(
                content_digest("text").alias("digest")
            )
        )
        replay = incremental_exact_dedup(batch, grown)
        assert replay.where("admit").count() == 0

    def test_corpus_is_never_shuffled_wide(self, spark, corpus, batch):
        idx = corpus.select(content_digest("text").alias("digest"))
        plan = (
            incremental_exact_dedup(batch, idx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan

    def test_in_batch_winner_is_not_a_digest_window(
        self, spark, corpus, batch
    ):
        """The in-batch first-occurrence winner must be groupBy-min +
        join back, never ``Window.partitionBy(digest)``: the daily
        admission batch can be billions of rows, and a hot digest under
        a window is one straggler WindowExec task (same gate as the
        substring/paragraph rewrite passes)."""
        idx = corpus.select(content_digest("text").alias("digest"))
        plan = (
            incremental_exact_dedup(batch, idx)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert "digest" not in line, line
        assert "partial_min" in plan, plan

    def test_planted_hot_digest_in_batch(self, spark):
        """One content value planted in >= 50% of batch rows — the
        shape a digest-keyed window turns into a single straggler
        task. The skew-safe winner must still pick exactly the min-id
        row and mark every later copy dup_in_batch."""
        hot = "hot content repeated everywhere"
        rows = [(i, hot) for i in range(600)]
        rows += [(1000 + i, f"unique doc {i}") for i in range(400)]
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        idx = spark.createDataFrame(
            [("unmatched doc",)], "text string"
        ).select(content_digest("text").alias("digest"))
        out = {
            r.doc_id: r for r in incremental_exact_dedup(batch, idx).collect()
        }
        assert len(out) == 1000
        assert out[0].admit and not out[0].dup_in_batch
        assert all(
            out[i].dup_in_batch and not out[i].admit for i in range(1, 600)
        )
        assert all(out[1000 + i].admit for i in range(400))
        assert not any(r.dup_of_corpus for r in out.values())


class TestIncrementalNearDup:
    def test_near_dups_flag_and_fresh_pass(self, spark, corpus, docs):
        index = build_band_index(corpus)
        # batch: light edits of corpus docs (append one token) + docs
        # over a vocabulary the corpus has never seen (the natural
        # testdata contains cross-id near-dups, so sampling "fresh"
        # docs from it would not guarantee novelty)
        edited = corpus.limit(5).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" appended")).alias("text"),
        )
        fresh = spark.createDataFrame(
            [
                (
                    2_000_000 + i,
                    " ".join(f"novelword{i}x{j}" for j in range(12)),
                )
                for i in range(5)
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in incremental_near_dup(
                edited.unionByName(fresh), index
            ).collect()
        }
        near = [r for k, r in out.items() if k < 2_000_000]
        novel = [r for k, r in out.items() if k >= 2_000_000]
        assert sum(r.is_near_dup for r in near) >= 4  # LSH recall
        # a one-token append keeps estimated similarity high
        assert all(
            r.best_est_jaccard >= 0.5 for r in near if r.is_near_dup
        )
        assert all(
            not r.is_near_dup and r.n_candidates == 0 for r in novel
        )

    def test_batch_band_side_broadcasts(self, spark, corpus):
        index = build_band_index(corpus)
        probe = corpus.limit(3).select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
        )
        plan = (
            incremental_near_dup(probe, index)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan


class TestWindowManifest:
    W, S = 16, 4

    def test_windows_tile_exactly(self, spark, docs):
        packed = pack_documents(docs, window_tokens=self.W, num_shards=self.S)
        man = window_manifest(packed, self.W)
        # each window's slices sum to W tokens (except each stream's
        # final window) and start at win_tok_start contiguously
        fill = (
            man.groupBy("source", "shard", "window_id")
            .agg(
                F.sum(
                    F.col("doc_tok_end") - F.col("doc_tok_start")
                ).alias("filled"),
                F.min("win_tok_start").alias("first_off"),
            )
        )
        last = (
            man.groupBy("source", "shard")
            .agg(F.max("window_id").alias("last_win"))
        )
        bad_fill = (
            fill.join(last, ["source", "shard"])
            .where(
                (F.col("window_id") != F.col("last_win"))
                & (F.col("filled") != self.W)
            )
            .count()
        )
        assert bad_fill == 0
        assert fill.where("first_off != 0").count() == 0

    def test_slices_cover_each_document_exactly(self, spark, docs):
        packed = pack_documents(docs, window_tokens=self.W, num_shards=self.S)
        man = window_manifest(packed, self.W)
        cover = man.groupBy("doc_id").agg(
            F.sum(F.col("doc_tok_end") - F.col("doc_tok_start")).alias("c"),
            F.min("doc_tok_start").alias("lo"),
            F.max("doc_tok_end").alias("hi"),
        )
        joined = cover.join(
            packed.select("doc_id", "n_tokens"), "doc_id"
        )
        assert (
            joined.where(
                (F.col("c") != F.col("n_tokens"))
                | (F.col("lo") != 0)
                | (F.col("hi") != F.col("n_tokens"))
            ).count()
            == 0
        )
        # every positive-token doc appears; zero-token docs don't
        assert (
            cover.count()
            == packed.where("n_tokens > 0").count()
        )

    def test_manifest_is_map_side(self, spark, docs):
        packed = pack_documents(docs, window_tokens=self.W, num_shards=self.S)
        plan = (
            window_manifest(packed, self.W)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # no exchange beyond the packing window's own single shuffle
        assert plan.count("Exchange") <= 1, plan
