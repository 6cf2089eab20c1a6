"""Semantic tests for the LLM-pipeline operators — properties the
DuckDB differential check can't express: known-positive recall of the
near-dup pipelines, LSH-vs-exact agreement, multimodal stub
determinism."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.plans import REGISTRY
from redis_lsm_timeseries_spark.plans.llm_queries import NEAR_OFFSET

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def n_docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    )


class TestDedupRecall:
    def test_exact_dedup_finds_every_copy(self, spark, n_docs):
        out = REGISTRY["dedup_exact"].fn(spark, SF_DIR)
        rows = out.collect()
        assert len(rows) == n_docs  # one group per distinct content
        assert all(r.n_copies == 2 for r in rows)

    def test_minhash_lsh_recall_on_near_dups(self, spark, n_docs):
        """Each doc and its one-token-appended copy share ~ (n-2)/(n-1)
        Jaccard; banded MinHash (4 bands x 3 rows) should surface almost
        all of them as candidates."""
        pairs = REGISTRY["dedup_minhash_lsh_pairs"].fn(spark, SF_DIR)
        hits = pairs.where(F.col("b") == F.col("a") + NEAR_OFFSET).count()
        assert hits >= 0.9 * n_docs, f"LSH recall too low: {hits}/{n_docs}"

    def test_jaccard_verification_scores_near_dups_high(self, spark, n_docs):
        jac = REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR)
        true_pairs = jac.where(F.col("b") == F.col("a") + NEAR_OFFSET)
        rows = true_pairs.collect()
        assert len(rows) >= 0.9 * n_docs
        assert all(r.jaccard >= 0.8 for r in rows)

    def test_simhash_hamming_separates_near_from_random(self, spark):
        ham = REGISTRY["dedup_simhash_hamming"].fn(spark, SF_DIR)
        stats = ham.agg(
            F.max("hamming").alias("mx"), F.avg("hamming").alias("avg")
        ).first()
        # One appended token flips only a few of 60 bits. (The corpus
        # vocabulary is ~30 words, so each token carries real weight:
        # observed avg ~6, max ~14; a random pair averages ~30.)
        assert stats.mx <= 20
        assert stats.avg <= 10


class TestSimilarity:
    def test_lsh_topk_subset_of_bucket_and_scored_like_exact(self, spark):
        """Within a shared bucket, the LSH ranking must agree with the
        exact ranking (same cosine definition)."""
        exact = {
            (r.query_id, r.neighbor_id): r.cosine_sim
            for r in REGISTRY["ann_cosine_topk"].fn(spark, SF_DIR).collect()
        }
        lsh = REGISTRY["ann_cosine_topk_lsh"].fn(spark, SF_DIR).collect()
        assert len(lsh) > 0
        for r in lsh:
            key = (r.query_id, r.neighbor_id)
            if key in exact:
                assert abs(exact[key] - r.cosine_sim) < 1e-12

    def test_near_dup_pairs_contain_all_planted(self, spark):
        emb_n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
        pairs = REGISTRY["embedding_near_dup_pairs"].fn(spark, SF_DIR)
        planted = pairs.where(F.col("b") == F.col("a") + NEAR_OFFSET).count()
        assert planted == emb_n  # every perturbed copy found


class TestMultimodal:
    def test_feature_extract_deterministic_and_shaped(self, spark):
        df = REGISTRY["multimodal_feature_extract"].fn(spark, SF_DIR)
        rows1 = {r.doc_id: r for r in df.collect()}
        rows2 = {r.doc_id: r for r in df.collect()}
        assert rows1.keys() == rows2.keys()
        some = next(iter(rows1.values()))
        feature = [int(t) for t in some.feature_csv.split(",")]
        assert len(feature) == 8
        # exact integer bucket counts: the histogram sums to the byte
        # count (the internal API exposes the normalized ratios).
        assert sum(feature) == some.n_bytes
        for k in rows1:
            assert rows1[k].mean_byte == rows2[k].mean_byte
        # n_bytes must equal the utf-8 length of the text.
        texts = {
            r.doc_id: r.text
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        for k, r in rows1.items():
            assert r.n_bytes == len(texts[k].encode("utf-8"))


class TestRepetitionStats:
    """Gopher-style repetition filters: known-repetitive synthetic docs
    must trip the thresholds, normal prose must not."""

    def test_signals_and_thresholds(self, spark):
        from redis_lsm_timeseries_spark.operators.text import (
            with_repetition_stats,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog near a river"),
            (2, "buy now " * 30),  # one 2-gram dominates
            (3, "menu\nhome\nmenu\nhome\nmenu\nhome\ncontact"),  # dup lines
            (4, "single line with no repetition whatsoever"),
            (5, "ab"),  # one token: no 2-grams, no crash
            (6, None),  # NULL text must not error
            (7, "   "),  # whitespace-only: phantom '' tokens filtered
            (8, "  spaced   out  "),  # edge whitespace, real tokens
        ]
        df = spark.createDataFrame(rows, ["id", "text"])
        got = {r.id: r for r in with_repetition_stats(df).collect()}

        assert got[1].is_repetitive is False
        assert got[1].dup_line_frac == 0.0

        assert got[2].top_2gram_frac > 0.4  # 'now buy'/'buy now' dominate
        assert got[2].is_repetitive is True

        # 7 non-empty lines, 3 distinct -> dup fraction 4/7.
        assert got[3].dup_line_frac == pytest.approx(4 / 7)
        assert got[3].is_repetitive is True

        assert got[4].is_repetitive is False
        assert got[5].top_2gram_frac == 0.0
        assert got[5].is_repetitive is False
        assert got[6].dup_line_frac == 0.0
        assert got[6].top_2gram_frac == 0.0

        # Whitespace-only text: tokens() yields ['', ''] before the
        # filter — the gram built from phantom empties must not flag.
        assert got[7].top_2gram_frac == 0.0
        assert got[7].is_repetitive is False
        # Edge whitespace: 2 real tokens -> 1 gram of real words only.
        assert got[8].top_2gram_frac == 1.0 / 1.0

    def test_real_documents_mostly_clean(self, spark):
        """The synthetic documents table is generated prose — the
        repetition filters must not reject a large share of it (a
        miscalibrated filter that nukes half the corpus is worse than
        none)."""
        from redis_lsm_timeseries_spark.operators.text import (
            with_repetition_stats,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        stats = with_repetition_stats(docs)
        frac = stats.where("is_repetitive").count() / docs.count()
        assert frac < 0.5, f"{frac:.2%} of corpus flagged repetitive"


class TestUrlExtraction:
    def test_urls_and_domains(self, spark):
        from redis_lsm_timeseries_spark.operators.text import with_urls

        rows = [
            (1, "see https://www.Example.com/path?q=1 and http://sub.co.uk:8080/x."),
            (2, "bare mention of example.com without scheme stays out"),
            (3, "trailing punct https://a.io/p), then (https://b.io/q]"),
            (4, None),
            (5, "no links at all"),
        ]
        df = spark.createDataFrame(rows, "id LONG, text STRING")
        got = {r.id: r for r in with_urls(df).collect()}

        # Trailing sentence '.' is prose, not path: stripped per match
        # so mid- and end-sentence citations of one URL share a key.
        assert got[1].urls == [
            "https://www.Example.com/path?q=1",
            "http://sub.co.uk:8080/x",
        ]
        assert got[1].domains == ["example.com", "sub.co.uk"]
        assert got[1].n_urls == 2

        assert got[2].n_urls == 0  # scheme required: no false positives
        # Closing punctuation never swallowed into the path.
        assert got[3].urls == ["https://a.io/p", "https://b.io/q"]
        assert got[3].domains == ["a.io", "b.io"]

        assert got[4].n_urls == 0 and got[4].urls == []  # NULL-safe
        assert got[5].n_urls == 0

    def test_stays_in_codegen(self, spark):
        from redis_lsm_timeseries_spark.operators.text import with_urls

        df = with_urls(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
                "doc_id", "text"
            )
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestDecontamination:
    def test_known_positives_flag(self, spark):
        """Every eval-source document (doc_id % 20 == 0) with at least
        one shingle contributed its first grams to the eval set, so it
        MUST come back contaminated; its contam_frac is bounded below
        by the contributed share."""
        out = REGISTRY["text_decontaminate"].fn(spark, SF_DIR).collect()
        by_id = {r.doc_id: r for r in out}
        eval_ids = [i for i in by_id if i % 20 == 0]
        assert eval_ids, "fixture must contain eval-source docs"
        for i in eval_ids:
            r = by_id[i]
            if r.n_shingles > 0:
                assert r.is_contaminated, f"eval doc {i} not flagged"
                assert r.n_eval_hits >= 1
        # The corpus must not be uniformly contaminated (the filter
        # would then be vacuous): some non-eval doc stays clean.
        assert any(
            not r.is_contaminated for r in out if r.doc_id % 20 != 0
        )

    def test_two_table_overlap_counts(self, spark):
        """Direct two-table use: a doc sharing exactly one 3-shingle
        with the eval set counts 1 hit; a disjoint doc counts 0 and
        still appears in the output."""
        from redis_lsm_timeseries_spark.functions.portable import (
            hashed_shingles_expr,
        )
        from redis_lsm_timeseries_spark.operators.dedup import (
            ngram_overlap_contamination,
        )

        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),  # shares 'alpha beta gamma'
                (2, "zeta eta theta iota"),  # disjoint
                (3, "xy"),  # < 3 tokens: zero shingles
            ],
            ["doc_id", "text"],
        ).withColumn("sh", hashed_shingles_expr("text"))
        eval_df = spark.createDataFrame(
            [("alpha beta gamma",)], ["text"]
        ).select(F.explode(hashed_shingles_expr("text")).alias("g"))
        got = {
            r.doc_id: r
            for r in ngram_overlap_contamination(corpus, eval_df).collect()
        }
        assert got[1].n_eval_hits == 1 and got[1].is_contaminated
        assert got[1].n_shingles == 2 and got[1].contam_frac == 0.5
        assert got[2].n_eval_hits == 0 and not got[2].is_contaminated
        assert got[3].n_shingles == 0 and got[3].contam_frac == 0.0

    def test_eval_side_broadcasts_and_stays_in_codegen(self, spark):
        """The scale posture: the eval gram set must reach the overlap
        join as a broadcast (the corpus never shuffles on gram), and
        nothing in the plan falls out of the JVM."""
        df = REGISTRY["text_decontaminate"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestSampling:
    def test_hash_mod_sample_deterministic_and_rate_shaped(self, spark):
        """Same inputs -> identical member set across runs, and each
        stratum's realized fraction tracks its requested rate."""
        from redis_lsm_timeseries_spark.operators.sampling import (
            hash_mod_sample,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "source"
        )
        rates = {f"src{i}": 100 + 40 * i for i in range(20)}
        a = {
            r.doc_id
            for r in hash_mod_sample(docs, "source", rates, "doc_id").collect()
        }
        b = {
            r.doc_id
            for r in hash_mod_sample(docs, "source", rates, "doc_id").collect()
        }
        assert a == b and a  # deterministic, non-empty
        # A stratum missing from the recipe contributes nothing.
        partial = hash_mod_sample(docs, "source", {"src0": 1000}, "doc_id")
        assert partial.where(F.col("source") != "src0").count() == 0

    def test_hash_mod_sample_is_map_only(self, spark):
        """The 100 TB property: the sampler is a pure filter — no
        exchange anywhere in its plan."""
        from redis_lsm_timeseries_spark.operators.sampling import (
            hash_mod_sample,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "source"
        )
        df = hash_mod_sample(docs, "source", {"src0": 500}, "doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
