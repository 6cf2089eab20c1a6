"""Connected components over candidate-pair graphs — the final stage
of the dedup pipeline.

The near-dup operators (operators/dedup.py, similarity.py) emit
candidate PAIRS; a training-data pipeline must then group pairs into
duplicate CLUSTERS and keep one canonical document per cluster —
transitive closure, not pairwise filtering (A~B and B~C must drop two
of {A,B,C} even if A~C was never emitted as a pair).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed
as DataFrame self-joins. Each round:

- large-star: every node connects its LARGER neighbors to its current
  minimum neighbor (including itself);
- small-star: every node connects its smaller-or-equal neighbors to
  the minimum.

Both are a groupBy(min) + explode — partial-aggregated shuffles on
node id, no driver-side graph. The edge list contracts toward a
star per component; converged when every node's component label stops
changing. Rounds needed: O(log^2 n) worst case, 2-4 in practice for
near-dup graphs (components are tiny cliques/chains). Each round
materializes the contracted edges — the iteration product is
small (one row per node), and checkpointing severs the
exponentially-deepening lineage that would otherwise re-execute every
prior round per action.

At 100 TB scale the candidate graph is orders of magnitude smaller
than the corpus (bands bound it), so the iteration runs on the small
derived table, never the documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.session import materialize


def _sym(e: DataFrame) -> DataFrame:
    return e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _star(e: DataFrame, large: bool) -> DataFrame:
    # Per node: m = min(N(u) ∪ {u}), then re-point each closed-
    # neighborhood member x of u at m. The min MUST include u
    # itself — after a contraction round the component minimum
    # appears only on the v side, and a min over neighbors alone
    # would hand its neighbors a wrong (larger) label. The
    # self-inclusive min is folded INTO the aggregate
    # (least(min(v), u)) instead of materializing (u, u) self-loop
    # rows: the previous formulation unioned a distinct'd self-loop
    # set into the join input, paying one extra shuffle per star
    # call (r17, guide §2.4) for rows whose only effects — the
    # self-inclusive min and small-star's u->m edge — both fall out
    # of the `mins` table directly.
    #
    # Re-pointing is a JOIN of the edge rows against the per-node
    # min table — NEVER a collect_set of the neighborhood: one
    # viral template node with 10^7 candidate pairs would
    # materialize a 10^7-element array in a single row (an
    # unsplittable straggler and an OOM risk), while the same hot
    # key under groupBy(min) collapses map-side to one row and
    # under the equi-join gets split by AQE skew-join handling.
    sym = _sym(e)
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("m")
    )
    cond = (
        (F.col("v") > F.col("u"))  # larger neighbors -> min
        if large
        else (F.col("v") < F.col("u"))  # smaller neighbors -> min
    )
    repointed = (
        sym.join(mins, "u")
        .where(cond & (F.col("v") != F.col("m")))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    if large:
        # No output distinct: duplicate (v, m) edges (several u's
        # re-pointing the same neighbor at the same min) are folded
        # by the NEXT star's groupBy(min) map-side and by small-star's
        # terminal distinct — dropping the shuffle here halves the
        # per-round exchange count without changing the edge SET.
        return repointed
    # small-star also emits each node's own u -> m edge (the effect
    # the self-loop rows used to produce), straight from `mins`.
    return repointed.unionByName(
        mins.where(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v")
        )
    ).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve candidate pairs to components.

    Input: an edge list (two long/str columns; direction ignored).
    Output: one row per node appearing in any edge —
    ``(node, component)`` with ``component`` = the minimum node id in
    its connected component (a deterministic canonical label).

    Raises if the iteration hasn't converged after ``max_iter`` rounds
    (pathological graphs; raise the cap) rather than returning a
    silently-wrong partial closure.

    When ``stats`` is passed (a plain dict), it is populated with
    ``{"cc_rounds": r, "cc_edges_per_round": [...]}`` — the iteration
    count and post-contraction edge count per round. Iteration cost is
    rounds x per-round fixed overhead, so separating "more rounds"
    from "slower rounds" needs these recorded (bench extras carries
    them for the catalog workload)."""
    # Materialize the raw pair projection ONCE before fanning out:
    # ``edges`` and the node universe below both consume ``pairs``
    # (the union twice), and projection collapse re-inlines the
    # caller's whole candidate-pair subtree — band explode, bucket
    # self-join, distinct — into every consumer, executing it three
    # times per call. The lazy checkpoint materializes inside the
    # first consumer's job; everything after reads the stored rows.
    # ``edges`` and ``nodes`` are lazy too: the first round's count
    # stores the edges and the final labeling the nodes, so neither
    # costs a job of its own.
    base = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")), "components.pairs"
    )
    edges = materialize(
        base.where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))  # self-pairs carry no structure
        .distinct(),
        "components.edges",
    )
    # Node universe, fixed up front: contraction drops nodes whose
    # component has collapsed (and singleton-only nodes never enter the
    # edge iteration at all); the final labeling re-attaches them.
    nodes = materialize(
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .where(F.col("node").isNotNull())
        .distinct(),
        "components.nodes",
    )

    # Terminate on EDGE-SET stability (the paper's criterion: a round
    # that changes nothing means the graph is fully contracted into
    # stars). Checking edges is cheaper than labeling every round —
    # the count() below doubles as the checkpoint's materializing
    # action (lazy checkpoint: contraction, storage, and count are ONE
    # Spark job per round, not a materialize job plus a count job),
    # and the exceptAll only runs when counts already agree.
    prev: tuple[DataFrame, int] | None = None
    converged = False
    edges_per_round: list[int] = []
    rounds = 0
    for _ in range(max_iter):
        edges = _star(edges, large=True)
        edges = materialize(_star(edges, large=False), "components.round_edges")
        n = edges.count()
        rounds += 1
        edges_per_round.append(n)
        if prev is not None and n == prev[1]:
            if edges.exceptAll(prev[0]).limit(1).count() == 0:
                converged = True
                break
        prev = (edges, n)
    if stats is not None:
        stats["cc_rounds"] = rounds
        stats["cc_edges_per_round"] = edges_per_round
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # Final labeling: min over each node's closed neighborhood,
    # re-attached to the full universe (coalesce = own id for nodes
    # contracted out of the edge list / singletons).
    member_min = (
        _sym(edges)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("mn"), F.col("u")).alias("c"),
        )
    )
    return nodes.join(member_min, on="node", how="left").select(
        "node", F.coalesce(F.col("c"), F.col("node")).alias("component")
    )


def canonical_docs_by(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
) -> DataFrame:
    """Quality-aware canonicalization: keep, per duplicate cluster,
    the member with the HIGHEST ``score_col`` (ties -> minimum id),
    and every document in no candidate pair. Keeping the min id is
    fine when copies are interchangeable, but near-dup
    clusters usually aren't (a clean article vs its ad-littered
    scrape): production pipelines keep the best copy, which is this.

    NULL scores sort below every real score; an all-NULL cluster
    falls back to the min id. Two-phase winner pick (per-cluster max
    score, then min id among the score-tied) keeps every aggregation
    partial-aggregated — no per-cluster window, the same skew posture
    as ``mark_first_occurrence``.

    Scale: the component table holds only CLUSTERED nodes (small
    relative to the corpus); scores join onto it, never the reverse,
    and the final anti-join against the loser set is the only contact
    with the full corpus."""
    # comp fans out into the score join AND the loser join (scored
    # itself is consumed twice via ``best``) — materialize the small
    # labeling once instead of re-running its aggregate+join per
    # consumer.
    comp = materialize(
        connected_components(pairs, src=src, dst=dst), "components.labels"
    )
    scored = comp.join(
        docs.select(
            F.col(id_col).alias("node"), F.col(score_col).alias("_s")
        ),
        "node",
    )
    best = scored.groupBy("component").agg(F.max("_s").alias("_best"))
    winners = (
        scored.join(best, "component")
        .where(F.col("_s").eqNullSafe(F.col("_best")))
        .groupBy("component")
        .agg(F.min("node").alias("_keep"))
    )
    losers = (
        comp.join(winners, "component")
        .where(F.col("node") != F.col("_keep"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, on=id_col, how="left_anti")
