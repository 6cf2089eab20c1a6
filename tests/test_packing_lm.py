"""Sequence packing + unigram-LM scoring: DuckDB differential checks
(the operators are pytest-tier — the 50-slot driver catalog is full —
so this file replicates the oracle-parity harness for them) plus
semantic unit properties the differential can't express."""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.operators.lm import (
    lm_quality_scores,
    unigram_model,
    with_lm_score,
)
from redis_lsm_timeseries_spark.operators.packing import pack_documents

SF_DIR = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")

HASH64 = "(('0x' || substr(md5(CAST({e} AS VARCHAR)), 1, 15))::BIGINT)"
TOKS = "list_filter(string_split_regex(lower({e}), '\\s+'), t -> t != '')"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    yield con
    con.close()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestPackingDifferential:
    W, S = 64, 8

    ORACLE = f"""
        WITH base AS (
            SELECT doc_id, source,
                   {HASH64.format(e='doc_id')} % {{s}} AS shard,
                   len({TOKS.format(e='text')}) AS n_tokens
            FROM documents
        ), run AS (
            SELECT *,
                   (SUM(n_tokens) OVER (
                        PARTITION BY source, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tokens) AS token_start
            FROM base
        )
        SELECT doc_id, source, shard,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(token_start AS BIGINT) AS token_start,
               CAST(token_start // {{w}} AS BIGINT) AS pack_id,
               CAST((token_start + greatest(n_tokens, 1) - 1) // {{w}}
                    AS BIGINT) AS pack_id_end
        FROM run ORDER BY doc_id
    """

    def test_layout_matches_duckdb_exactly(self, spark, duck, docs):
        got = (
            pack_documents(docs, window_tokens=self.W, num_shards=self.S)
            .orderBy("doc_id")
            .collect()
        )
        want = duck.execute(
            self.ORACLE.format(w=self.W, s=self.S)
        ).fetchall()
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert (
                g.doc_id,
                g.source,
                g.shard,
                g.n_tokens,
                g.token_start,
                g.pack_id,
                g.pack_id_end,
            ) == tuple(w), f"doc {w[0]} layout mismatch"

    def test_streams_are_gapless(self, spark, docs):
        """Within every (source, shard) stream, token offsets tile the
        stream with no gaps or overlaps — the property that makes the
        layout directly materializable into training shards."""
        packed = pack_documents(docs, window_tokens=self.W, num_shards=self.S)
        bad = (
            packed.withColumn(
                "prev_end",
                F.lag(F.col("token_start") + F.col("n_tokens"), 1, 0).over(
                    Window.partitionBy("source", "shard").orderBy("doc_id")
                ),
            )
            .where(F.col("token_start") != F.col("prev_end"))
            .count()
        )
        assert bad == 0

    def test_boundary_flags_on_tiny_window(self, spark, docs):
        """window_tokens=1: every doc with >= 2 tokens crosses."""
        packed = pack_documents(docs, window_tokens=1, num_shards=self.S)
        wrong = packed.where(
            (F.col("n_tokens") >= 2) & ~F.col("crosses_boundary")
        ).count()
        assert wrong == 0

    def test_empty_and_whitespace_docs(self, spark):
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma", "s"),
                (2, "", "s"),
                (3, "   ", "s"),
                (4, "delta", "s"),
            ],
            "doc_id long, text string, source string",
        )
        rows = {
            r.doc_id: r
            for r in pack_documents(df, window_tokens=2, num_shards=1)
            .collect()
        }
        assert rows[2].n_tokens == 0 and rows[3].n_tokens == 0
        for r in rows.values():
            if r.n_tokens == 0:
                assert r.pack_id == r.pack_id_end
                assert not r.crosses_boundary
                assert r.n_windows == 1
        total = sum(r.n_tokens for r in rows.values())
        assert total == 4


class TestLMScoringDifferential:
    # The default min_count=2 prune is part of the differential: the
    # model keeps only tokens seen >= 2 times, the total still counts
    # every token, and pruned/unseen tokens take the ln(1/total) floor
    # (and count as OOV).
    ORACLE = f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest({TOKS.format(e='text')}) AS token
            FROM documents
        ), counts AS (
            SELECT token, count(*) AS n FROM tok GROUP BY token
        ), tot AS (SELECT sum(n) AS total FROM counts),
        model AS (SELECT token, n FROM counts WHERE n >= 2),
        scored AS (
            SELECT t.doc_id, count(*) AS n_tokens,
                   sum(CASE WHEN m.n IS NULL THEN 1 ELSE 0 END) AS n_oov,
                   sum(ln(coalesce(m.n, 1) / tot.total)) AS sum_lp
            FROM tok t LEFT JOIN model m USING (token) CROSS JOIN tot
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(s.n_oov, 0) AS BIGINT) AS n_oov,
               CASE WHEN coalesce(s.n_tokens, 0) > 0
                    THEN s.sum_lp / s.n_tokens ELSE 0.0 END AS lm_score
        FROM documents d LEFT JOIN scored s USING (doc_id)
        ORDER BY d.doc_id
    """

    def test_self_scores_match_duckdb(self, spark, duck, docs):
        got = lm_quality_scores(docs).orderBy("doc_id").collect()
        want = duck.execute(self.ORACLE).fetchall()
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g.doc_id == w[0] and g.n_tokens == w[1]
            assert g.n_oov == w[2]  # pruned singletons count as OOV
            assert math.isclose(g.lm_score, w[3], rel_tol=1e-9, abs_tol=1e-12)

    def test_model_is_a_proper_distribution(self, spark, docs):
        m = unigram_model(docs, min_count=1).collect()
        total = m[0]._total
        assert sum(r.n for r in m) == total
        assert all(r.logprob < 0 for r in m)
        # probabilities sum to 1 (exact rationals under the ln)
        assert math.isclose(
            sum(math.exp(r.logprob) for r in m), 1.0, rel_tol=1e-9
        )

    def test_pruned_model_properties(self, spark, docs):
        """Default prune: kept tokens all have n >= 2, the total is
        unchanged (pruned mass stays in the denominator), and the kept
        probability mass is <= 1."""
        full = unigram_model(docs, min_count=1).collect()
        pruned = unigram_model(docs).collect()
        assert {r.token for r in pruned} == {
            r.token for r in full if r.n >= 2
        }
        assert pruned[0]._total == full[0]._total
        assert sum(math.exp(r.logprob) for r in pruned) <= 1.0 + 1e-9
        # a singleton token now scores at the OOV floor, and is
        # reported as OOV by the scorer
        singles = {r.token for r in full if r.n == 1}
        if singles:
            probe = docs.sparkSession.createDataFrame(
                [(99_000_000, next(iter(singles)))],
                "doc_id long, text string",
            )
            row = with_lm_score(
                probe, unigram_model(docs)
            ).first()
            assert row.n_oov == 1
            assert math.isclose(
                row.lm_score,
                math.log(1.0 / pruned[0]._total),
                rel_tol=1e-12,
            )

    def test_oov_floor_on_cross_corpus_scoring(self, spark):
        fit = spark.createDataFrame(
            [(1, "a a a b"), (2, "b c")],
            "doc_id long, text string",
        )
        model = unigram_model(fit, min_count=1)  # exact-floor semantics
        score = spark.createDataFrame(
            [(10, "a zzz"), (11, ""), (12, "c")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in with_lm_score(score, model).collect()}
        total = 6  # a:3 b:2 c:1
        assert rows[10].n_oov == 1
        assert math.isclose(
            rows[10].lm_score,
            (math.log(3 / total) + math.log(1 / total)) / 2,
            rel_tol=1e-12,
        )
        assert rows[11].n_tokens == 0 and rows[11].lm_score == 0.0
        assert rows[12].n_oov == 0
        assert math.isclose(
            rows[12].lm_score, math.log(1 / total), rel_tol=1e-12
        )

    def test_junk_scores_below_fluent(self, spark, docs):
        """The curation property: a doc of singleton junk tokens must
        score below the corpus median."""
        junk = docs.sparkSession.createDataFrame(
            [(10_000_000, "zqxj wvkp qjzx pkwv zzzz", "x", "junk", 24)],
            docs.schema,
        )
        scored = lm_quality_scores(docs.unionByName(junk))
        med = scored.where(F.col("doc_id") < 10_000_000).agg(
            F.percentile_approx("lm_score", 0.5).alias("m")
        ).first().m
        junk_score = (
            scored.where(F.col("doc_id") == 10_000_000).first().lm_score
        )
        assert junk_score < med


class TestPlanShape:
    def test_packing_single_shuffle(self, spark, docs):
        plan = pack_documents(docs)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1, plan

    def test_lm_model_broadcasts(self, spark, docs):
        plan = (
            with_lm_score(docs, unigram_model(docs))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan

    def test_no_python_row_udfs(self, spark, docs):
        for df in (
            pack_documents(docs),
            lm_quality_scores(docs),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in plan


class TestWindowSizeGuards:
    def test_manifest_mismatch_raises(self, spark, docs):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.captured import SparkRuntimeException

        from redis_lsm_timeseries_spark.operators.packing import (
            window_manifest,
        )

        packed = pack_documents(docs, window_tokens=128)
        # collect(), not count(): column pruning would remove the
        # guarded slice expressions from a count-only plan
        with pytest.raises((SparkRuntimeException, Py4JJavaError, Exception)):
            window_manifest(packed, 64).collect()

    def test_manifest_defaults_to_carried_size(self, spark, docs):
        from redis_lsm_timeseries_spark.operators.packing import (
            window_manifest,
        )

        packed = pack_documents(docs, window_tokens=32)
        explicit = window_manifest(packed, 32).orderBy(
            "doc_id", "window_id"
        ).collect()
        implicit = window_manifest(packed).orderBy(
            "doc_id", "window_id"
        ).collect()
        assert [tuple(r) for r in explicit] == [tuple(r) for r in implicit]

    def test_near_dup_signature_width_guard(self, spark, docs):
        from redis_lsm_timeseries_spark.operators.dedup import (
            build_band_index,
            incremental_near_dup,
        )

        corpus = docs.limit(20)
        index = build_band_index(corpus, num_hashes=12)
        probe = corpus.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        with pytest.raises(Exception, match="num_hashes"):
            incremental_near_dup(probe, index, num_hashes=24).collect()


class TestBigramLM:
    def test_self_scores_match_duckdb(self, spark, duck, docs):
        from redis_lsm_timeseries_spark.operators.lm import (
            bigram_quality_scores,
        )

        want = {
            r[0]: (r[1], r[2], r[3])
            for r in duck.execute(f"""
                WITH toks AS (
                    SELECT doc_id, {TOKS.format(e='text')} AS t
                    FROM documents
                ), bg AS (
                    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                    FROM toks, unnest(range(1, len(t))) AS u(i)
                    WHERE len(t) >= 2
                ), counts AS (
                    SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
                ), model AS (
                    SELECT w1, w2, n FROM counts WHERE n >= 2
                ), ctx AS (
                    SELECT w1, sum(n) AS nc FROM model GROUP BY w1
                ), utok AS (
                    SELECT unnest({TOKS.format(e='text')}) AS token
                    FROM documents
                ), ucnt AS (
                    SELECT token, count(*) AS n FROM utok GROUP BY token
                ), utot AS (SELECT sum(n) AS total FROM ucnt),
                umodel AS (SELECT token, n FROM ucnt WHERE n >= 2),
                scored AS (
                    SELECT bg.doc_id, count(*) AS n_bigrams,
                           sum(CASE WHEN m.n IS NULL THEN 1 ELSE 0 END)
                               AS n_backoff,
                           sum(CASE WHEN m.n IS NOT NULL
                                    THEN ln(m.n / c.nc)
                                    ELSE ln(0.4) + ln(coalesce(u.n, 1)
                                                      / utot.total) END)
                               AS slp
                    FROM bg LEFT JOIN model m USING (w1, w2)
                            LEFT JOIN ctx c USING (w1)
                            LEFT JOIN umodel u ON u.token = bg.w2
                            CROSS JOIN utot
                    GROUP BY bg.doc_id
                )
                SELECT d.doc_id,
                       CAST(coalesce(s.n_bigrams, 0) AS BIGINT),
                       CAST(coalesce(s.n_backoff, 0) AS BIGINT),
                       CASE WHEN coalesce(s.n_bigrams, 0) > 0
                            THEN s.slp / s.n_bigrams ELSE 0.0 END
                FROM documents d LEFT JOIN scored s USING (doc_id)
            """).fetchall()
        }
        got = bigram_quality_scores(docs).collect()
        assert len(got) == len(want) > 0
        for r in got:
            nb, nbk, score = want[r.doc_id]
            assert r.n_bigrams == nb
            assert r.n_backoff == nbk  # pruned bigrams back off
            assert math.isclose(
                r.bigram_score, score, rel_tol=1e-9, abs_tol=1e-12
            )

    def test_backoff_on_unseen_bigrams(self, spark):
        from redis_lsm_timeseries_spark.operators.lm import (
            BACKOFF_ALPHA,
            bigram_model,
            unigram_model,
            with_bigram_score,
        )

        fit = spark.createDataFrame(
            [(1, "a b a b c")], "doc_id long, text string"
        )
        bi, uni = bigram_model(fit), unigram_model(fit)
        probe = spark.createDataFrame(
            # "c a": unseen bigram, both words known -> backoff to
            # alpha * P_uni(a) = 0.4 * 2/5
            [(10, "c a"), (11, "a b"), (12, "q")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r for r in with_bigram_score(probe, bi, uni).collect()
        }
        assert rows[10].n_backoff == 1
        assert math.isclose(
            rows[10].bigram_score,
            math.log(BACKOFF_ALPHA) + math.log(2 / 5),
            rel_tol=1e-12,
        )
        # "a b": 'a' occurs twice as a context, both continuing to
        # 'b' -> P(b|a) = 2/2 = 1, score ln(1) = 0
        assert rows[11].n_backoff == 0
        assert rows[11].bigram_score == 0.0
        assert rows[12].n_bigrams == 0 and rows[12].bigram_score == 0.0

    def test_backoff_penalizes_vs_unigram(self, spark):
        """A document whose every bigram is unseen scores strictly
        below its own unigram score — the ln(alpha) penalty is what
        makes the bigram signal separate scrambled text from fluent
        text even when the unigram distributions agree."""
        from redis_lsm_timeseries_spark.operators.lm import (
            bigram_model,
            unigram_model,
            with_bigram_score,
            with_lm_score,
        )

        fit = spark.createDataFrame(
            [(1, "a b c d e a b c d e")], "doc_id long, text string"
        )
        bi, uni = bigram_model(fit), unigram_model(fit)
        # reversed order: every bigram unseen, every unigram known
        probe = spark.createDataFrame(
            [(10, "e d c b a")], "doc_id long, text string"
        )
        bg = with_bigram_score(probe, bi, uni).first()
        ug = with_lm_score(probe, uni).first()
        assert bg.n_backoff == bg.n_bigrams == 4
        assert ug.n_oov == 0
        assert bg.bigram_score < ug.lm_score
