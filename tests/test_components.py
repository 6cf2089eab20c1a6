"""Connected components + canonical-doc selection (operators/
components.py): DataFrame large-star/small-star vs a Python union-find
oracle, including the transitive case pairwise filtering gets wrong."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.operators.components import (
    connected_components,
)


def _uf_oracle(edges):
    """Min-label components by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["doc_id_a", "doc_id_b"])
    return {
        r.node: r.component for r in connected_components(df).collect()
    }


class TestConnectedComponents:
    def test_transitive_chain_and_clique(self, spark):
        """A~B~C chains collapse to one component even though A~C was
        never emitted — the case pairwise dedup misses."""
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 20)]
        assert _cc(spark, edges) == _uf_oracle(edges)

    def test_two_chains_merged_by_late_edge(self, spark):
        edges = [(1, 2), (3, 4), (5, 6), (2, 5), (4, 5)]
        got = _cc(spark, edges)
        assert got == _uf_oracle(edges)
        assert set(got.values()) == {1}  # everything connects to min=1

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=1,
            max_size=25,
        )
    )
    def test_matches_union_find_on_random_graphs(self, spark, edges):
        assert _cc(spark, edges) == _uf_oracle(edges)

    def test_large_seeded_graph_matches_union_find(self, spark):
        """2,000-node seeded random graph (chains, cliques, isolated
        self-pairs): the DataFrame iteration must agree with union-find
        at a scale where multi-round contraction actually happens."""
        import random

        rng = random.Random(42)
        edges = [
            (rng.randrange(2000), rng.randrange(2000)) for _ in range(2500)
        ]
        # Long chain forces several contraction rounds.
        edges += [(i, i + 1) for i in range(1900, 1999)]
        assert _cc(spark, edges) == _uf_oracle(edges)

    def test_nonconvergence_raises(self, spark):
        df = spark.createDataFrame([(1, 2), (2, 3)], ["doc_id_a", "doc_id_b"])
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=0)

    def test_planted_super_node(self, spark):
        """One viral-template node in >= 50% of all pairs — the shape
        that used to materialize a single multi-million-element
        collect_set row. The join-based re-point must converge and
        agree with union-find, and the per-round plan must carry no
        per-node neighborhood array at all."""
        hub = 500
        edges = [(hub, 1000 + i) for i in range(600)]  # hub degree 600
        edges += [(2000 + i, 2000 + i + 1) for i in range(0, 400, 2)]
        stats: dict = {}
        df = spark.createDataFrame(edges, ["doc_id_a", "doc_id_b"])
        got = {
            r.node: r.component
            for r in connected_components(df, stats=stats).collect()
        }
        assert got == _uf_oracle(edges)
        assert all(got[1000 + i] == hub for i in range(600))
        assert stats["cc_rounds"] >= 1
        assert len(stats["cc_edges_per_round"]) == stats["cc_rounds"]

    def test_star_round_plan_has_no_neighborhood_array(self, spark):
        """Plan gate on one contraction round: the neighborhood is
        re-pointed via groupBy(min) + equi-join (partial-aggregated,
        AQE-skew-splittable), never collected into an array row."""
        from redis_lsm_timeseries_spark.operators.components import _star

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 4)], ["u", "v"]
        )
        for large in (True, False):
            df = _star(edges, large=large)
            df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "collect_set" not in plan, plan
            assert "collect_list" not in plan, plan
            assert "partial_min" in plan, plan
            assert "windowspecdefinition" not in plan, plan


class TestCanonicalDocs:
    def test_embedding_pairs_cluster_too(self, spark):
        """The EMBEDDING near-dup path feeds the same clustering stage:
        hyperplane-LSH cosine pairs -> components -> canonical vectors,
        with the planted perturbed copies (id + 10M) losing to their
        originals."""
        from redis_lsm_timeseries_spark.operators.components import (
            connected_components,
        )
        from redis_lsm_timeseries_spark.plans.llm_queries import (
            embedding_near_dup_pairs,
        )

        pairs = embedding_near_dup_pairs(spark, "/root/testdata/sf0.001")
        edge_list = [(r.a, r.b) for r in pairs.select("a", "b").collect()]
        assert edge_list
        got = {
            r.node: r.component
            for r in connected_components(pairs, src="a", dst="b").collect()
        }
        assert got == _uf_oracle(edge_list)
        # Every planted copy that paired resolved to a sub-10M canonical.
        assert all(
            c < 10_000_000 for n, c in got.items() if n >= 10_000_000
        )


class TestQualityCanonical:
    """canonical_docs_by: keep the best-scored member per cluster."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "ad littered scrape", 0.2),
                (2, "clean article", 0.9),
                (3, "middling copy", 0.5),
                (10, "tie a", 0.7),
                (11, "tie b", 0.7),
                (20, "all null a", None),
                (21, "all null b", None),
                (30, "singleton untouched", 0.1),
            ],
            "doc_id long, text string, quality double",
        )

    @pytest.fixture(scope="class")
    def pairs(self, spark):
        return spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)],
            "doc_id_a long, doc_id_b long",
        )

    def test_best_score_wins(self, corpus, pairs):
        from redis_lsm_timeseries_spark.operators.components import (
            canonical_docs_by,
        )

        kept = {
            r.doc_id
            for r in canonical_docs_by(corpus, pairs, "quality").collect()
        }
        # cluster {1,2,3}: 2 (0.9) wins; {10,11}: tie -> min id 10;
        # {20,21}: all NULL -> min id 20; singleton 30 untouched
        assert kept == {2, 10, 20, 30}

    def test_constant_scores_match_min_id_rule(self, spark, corpus, pairs):
        from redis_lsm_timeseries_spark.operators.components import (
            canonical_docs_by,
        )

        flat = corpus.withColumn("quality", F.lit(1.0))
        comp = _uf_oracle([(r.doc_id_a, r.doc_id_b) for r in pairs.collect()])
        want = {r.doc_id for r in corpus.collect()} - {
            n for n, c in comp.items() if n != c
        }
        got = {
            r.doc_id
            for r in canonical_docs_by(flat, pairs, "quality").collect()
        }
        assert got == want

    def test_no_window_in_plan(self, corpus, pairs):
        from redis_lsm_timeseries_spark.operators.components import (
            canonical_docs_by,
        )

        df = canonical_docs_by(corpus, pairs, "quality")
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition" not in plan  # skew posture
        assert "CartesianProduct" not in plan
