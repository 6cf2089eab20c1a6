"""Similarity search over embedding columns (north star).

Three paths:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries broadcast (a handful of vectors); the corpus streams through
  one pass; per-query top-k via window rank. At 100 TB the corpus side
  stays partition-parallel and nothing but (query x k) rows survive
  the rank filter.
- ``lsh_bucket_topk``: random-hyperplane LSH — a scale path. Each
  vector reduces to a small signature; candidates only compete within
  their bucket, turning O(Q x N) into O(Q x N / 2^planes) expected.
  Hyperplanes are pseudo-random derived from the portable hash so the
  DuckDB oracle can reproduce them exactly.
- ``ivf_topk`` (+ ``train_ivf_centroids``): inverted-file ANN — the
  other standard scale path. K coarse centroids partition the corpus
  into lists; a query probes only its ``n_probe`` nearest lists.
  Centroids are literals in the plan (they're tiny: n_list x dim
  doubles), so list ASSIGNMENT is a map-only projection — zero
  shuffle over the corpus — and the probe join is keyed on list id.

All vector math happens in float64 over higher-order array functions
(zip_with + aggregate) — sequential, deterministic accumulation that
matches the oracle bitwise. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.session import materialize

NUM_PLANES = 8


def as_double_array(col: str) -> Column:
    return F.col(col).cast("array<double>")


def dot(a: str, b: str) -> Column:
    """Sequential-order dot product (deterministic for parity)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def usable_norm(a: str) -> Column:
    """True iff the vector can participate in cosine ranking: positive
    finite norm. `norm > 0` ALONE is not enough — a NaN component gives
    a NaN norm, and Spark evaluates `NaN > 0.0` as TRUE (NaN sorts
    greatest), so the broken vector would pass the filter and its NaN
    similarities would outrank every real neighbor."""
    n = norm(a)
    return (n > 0.0) & ~F.isnan(n)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    Zero- and NaN-norm rows are dropped on BOTH sides (cosine is
    undefined for them; a NaN similarity would otherwise rank above
    every real neighbor, since Spark orders NaN greatest) — the same
    posture as ``_unit_rows`` on the IVF path, so exact and ANN
    results stay comparable on a corpus containing broken embeddings.

    Output: (query_id, neighbor_id, cosine_sim, rnk).

    The norms ride as COLUMNS computed in the per-side projections
    below the join (the join blocks projection collapse), so each
    corpus row's 64-element norm aggregate runs once — inlining
    ``cosine()`` above the join would re-evaluate norm(cv) once per
    joined PAIR (x n_queries per corpus row) and norm(qv) per pair
    too (guide §4/§2.3: same value, computed |q| x fewer times; the
    division consumes the identical doubles, so results are
    bit-identical)."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
        .withColumn("_qn", norm("qv"))
        .where((F.col("_qn") > 0.0) & ~F.isnan(F.col("_qn")))
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("cv"),
        )
        .withColumn("_cn", norm("cv"))
        .where((F.col("_cn") > 0.0) & ~F.isnan(F.col("_cn")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim", dot("qv", "cv") / (F.col("_qn") * F.col("_cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def plane_components(plane: int, dim: int) -> list[float]:
    """Plane ``plane``'s components: +1/-1 by md5 parity of
    'p{plane}:{i}' — the identical value the DuckDB oracle derives with
    its own md5, so buckets agree across engines. Computed ONCE on the
    driver; embedding them as literals keeps 64 x planes md5 calls per
    ROW out of the executors."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"p{plane}:{i}".encode()).hexdigest()[:15], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]


def hyperplane_sign(vec_col: str, plane: int, dim: int) -> Column:
    """Sign bit for one pseudo-random hyperplane (0/1). The dot with
    the literal component array keeps the same sequential accumulation
    the oracle's list_reduce performs — bitwise-equal sign decisions."""
    comps = ", ".join(
        f"{c:.1f}D" for c in plane_components(plane, dim)
    )
    return (
        F.expr(
            f"aggregate(zip_with({vec_col}, array({comps}), (x, s) -> x * s), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        > 0
    ).cast("int")


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane bucket id (0 .. 2^num_planes - 1)."""
    dv = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    out = df.withColumn("_dv", F.expr(dv))
    bucket = None
    for p in range(num_planes):
        bit = hyperplane_sign("_dv", p, dim).cast("long") * F.lit(1 << p).cast(
            "long"
        )
        bucket = bit if bucket is None else bucket + bit
    return out.withColumn("lsh_bucket", bucket).drop("_dv")


def with_lsh_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    num_bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Banded random-hyperplane LSH: explode each vector into
    ``num_bands`` (band_idx, band_bucket) rows, where band b's bucket is
    the sign pattern of planes [b*r, (b+1)*r). Near-dup candidates are
    pairs sharing >= 1 band bucket — misses require EVERY band to split
    the pair, so recall approaches 1 for high-cosine pairs while the
    join stays bucket-local (the MinHash-banding trick applied to
    hyperplane signatures).

    Output: the input columns + (band_idx, band_bucket)."""
    dv = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    out = df.withColumn("_dv", F.expr(dv))
    bands = []
    for b in range(num_bands):
        bucket = None
        for p in range(planes_per_band):
            bit = hyperplane_sign("_dv", b * planes_per_band + p, dim).cast(
                "long"
            ) * F.lit(1 << p).cast("long")
            bucket = bit if bucket is None else bucket + bit
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"), bucket.alias("band_bucket")
            )
        )
    return (
        out.withColumn("band", F.explode(F.array(*bands)))
        .select(*df.columns, "band.band_idx", "band.band_bucket")
    )


def max_band_occupancy(banded: DataFrame) -> int:
    """Largest (band_idx, band_bucket) population — the statistic that
    decides whether a bucket self-join needs salting (a bucket of m
    rows is O(m^2) pair work inside one task). One map-side-combined
    count per occupied bucket, negligible next to the pair join it
    guards; at scale the same number falls out of the signature/band
    table's build statistics."""
    row = (
        banded.groupBy("band_idx", "band_bucket")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()
    )
    return int(row.mx) if row.mx is not None else 0


def banded_pair_scores(
    banded: DataFrame,
    id_col: str = "vec_id",
    nv_col: str = "nv",
    num_salts: int = 1,
    auto_salt_occupancy: int | None = None,
) -> DataFrame:
    """Candidate pairs (a < b) sharing >= 1 (band_idx, band_bucket),
    scored by the dot of their pre-normalized vectors (= cosine).
    Output: (a, b, cosine_sim), one row per pair per shared band —
    callers dedup with ``distinct()`` after thresholding.

    ``num_salts > 1`` splits hot buckets' pair enumeration across tasks
    (``operators.skew``); the rows produced are identical.

    ``auto_salt_occupancy``: occupancy-gated salting — probe the max
    bucket population (``max_band_occupancy``) and engage
    ``DEFAULT_SALTS``-way salting only when some bucket exceeds the
    threshold. Pick the threshold as the bucket size whose quadratic
    pair work one task should own (e.g. 10_000 -> ~5e7 pairs); below
    it, the unsalted join + AQE skew-split is cheaper than shuffling
    the right side S times."""
    from redis_lsm_timeseries_spark.operators.skew import (
        DEFAULT_SALTS,
        salted_pair_sides,
    )

    if auto_salt_occupancy is not None and num_salts <= 1:
        if max_band_occupancy(banded) > auto_salt_occupancy:
            num_salts = DEFAULT_SALTS

    left = banded.select(
        F.col(id_col).alias("a"), F.col(nv_col).alias("nva"),
        "band_idx", "band_bucket",
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col(nv_col).alias("nvb"),
        "band_idx", "band_bucket",
    )
    l, r, keys = salted_pair_sides(
        left, right, ["band_idx", "band_bucket"], left_id_col="a",
        num_salts=num_salts,
    )
    return (
        l.join(r, keys)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", dot("nva", "nvb").alias("cosine_sim"))
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: compete only within the query's LSH bucket.
    The bucket equi-join replaces the cross join — the shuffle key is
    the bucket id, so work scales with bucket occupancy, not corpus
    size. Zero/NaN-norm rows are dropped like in ``cosine_topk``.

    Two expression-duplication guards (guide §2.3): the bucket id is
    wrapped in ``coalesce(bucket, -1)`` — the NON-NULLABLE key lets
    the optimizer drop the equi-join's implicit ``IsNotNull(key)``
    filter, which otherwise re-inlines the whole num_planes x dim
    bucket expression into the corpus-side Filter (it ran TWICE per
    corpus row). The coalesce is an identity because of the
    ``size(v) = dim`` filter below: under the usable-norm filter a
    null bucket can ONLY come from a length-mismatched vector
    (zip_with null-pads; a null ELEMENT nulls the norm too and is
    already dropped), so dropping mismatched lengths first — the
    exact rows whose null key could never match the equi-join before
    the coalesce existed (ADVICE r17) — restores that semantics
    without putting the bucket expression back in a Filter: size()
    is O(1) on the array. And the norms ride as columns computed
    below the join, once per row, not once per joined pair — same
    doubles, bit-identical results (see ``cosine_topk``)."""
    qb = (
        with_lsh_bucket(
            queries.where(F.size(F.col(vec_col)) == F.lit(int(dim))),
            vec_col, num_planes, dim,
        )
        .select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
            F.coalesce(F.col("lsh_bucket"), F.lit(-1).cast("long")).alias(
                "lsh_bucket"
            ),
        )
        .withColumn("_qn", norm("qv"))
        .where((F.col("_qn") > 0.0) & ~F.isnan(F.col("_qn")))
    )
    cb = (
        with_lsh_bucket(
            corpus.where(F.size(F.col(vec_col)) == F.lit(int(dim))),
            vec_col, num_planes, dim,
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("cv"),
            F.coalesce(F.col("lsh_bucket"), F.lit(-1).cast("long")).alias(
                "lsh_bucket"
            ),
        )
        .withColumn("_cn", norm("cv"))
        .where((F.col("_cn") > 0.0) & ~F.isnan(F.col("_cn")))
    )
    scored = (
        cb.join(F.broadcast(qb), "lsh_bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim", dot("qv", "cv") / (F.col("_qn") * F.col("_cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "lsh_bucket", "neighbor_id", "cosine_sim", "rnk")
    )


# ------------------------------------------------------------------ IVF
def _centroid_lit(c: list[float]) -> str:
    return "array(" + ", ".join(f"{x!r}D" for x in c) + ")"


def _assign_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid list id as ONE projection expression: the
    centroids ride in the plan as literal arrays, so assignment is
    map-only — no broadcast join, no shuffle. Ties break to the lowest
    list id (struct max compares (sim, -list_id) lexicographically)."""
    scored = ", ".join(
        f"struct("
        f"aggregate(zip_with({vec_col}, {_centroid_lit(c)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS sim, "
        f"{-i} AS neg_list)"
        for i, c in enumerate(centroids)
    )
    return F.expr(f"-array_max(array({scored})).neg_list").cast("int")


def _probe_expr(vec_col: str, centroids: list[list[float]], n_probe: int) -> Column:
    """The n_probe nearest list ids for a query vector, as array<int>:
    sort the scored-centroid structs descending, slice, project ids."""
    scored = ", ".join(
        f"struct("
        f"aggregate(zip_with({vec_col}, {_centroid_lit(c)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS sim, "
        f"{-i} AS neg_list)"
        for i, c in enumerate(centroids)
    )
    return F.expr(
        f"transform(slice(reverse(array_sort(array({scored}))), 1, {n_probe}), "
        f"s -> CAST(-s.neg_list AS INT))"
    )


def centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """The quantizer as a (list_id int, centroid array<double>) table —
    the join-path twin of the literal expressions above."""
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>",
    )


def assign_lists_join(unit: DataFrame, cdf: DataFrame) -> DataFrame:
    """Nearest-centroid assignment via a BROADCAST join against the
    centroids table: (_id, list_id, _nv). Same scoring and tie-break
    (max sim, then lowest list id) as ``_assign_expr`` — but the plan
    scales in n_list. The literal-expression path compiles
    O(n_list x dim) literals into the plan: ~20 s of driver analysis
    at a mere 16x64, minutes-to-intractable at the thousands of lists
    a 100 TB corpus needs (n_list ~ sqrt(N)). Here the centroids are
    DATA (one broadcast of n_list x dim doubles), the score is one
    small zip_with, and the arg-max is a partial-aggregated
    ``max_by`` — no shuffle of the corpus beyond the per-id combine."""
    sim = F.aggregate(
        F.zip_with("_nv", "centroid", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = unit.crossJoin(F.broadcast(cdf)).withColumn("_sim", sim)
    return scored.groupBy("_id").agg(
        F.max_by(
            "list_id", F.struct(F.col("_sim"), (-F.col("list_id")))
        ).alias("list_id"),
        F.first("_nv").alias("_nv"),  # constant within the group
    )


def probe_lists_join(
    unit_queries: DataFrame, cdf: DataFrame, n_probe: int
) -> DataFrame:
    """Each query's n_probe nearest lists via the same broadcast join:
    (_id, _nv, list_id) with one row per probed list. Ranking is a
    per-query window over n_list scored rows — queries are the small
    side by definition, so the sort is bounded."""
    sim = F.aggregate(
        F.zip_with("_nv", "centroid", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = unit_queries.crossJoin(F.broadcast(cdf)).withColumn("_sim", sim)
    w = Window.partitionBy("_id").orderBy(
        F.col("_sim").desc(), F.col("list_id").asc()
    )
    return (
        scored.withColumn("_pr", F.row_number().over(w))
        .where(F.col("_pr") <= n_probe)
        .select("_id", "_nv", "list_id")
    )


def _unit_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, unit-norm vector) — normalizing once makes every later
    cosine a plain dot and makes centroid similarity spherical.

    Zero- and NaN-norm vectors (all-zero or NaN-bearing embeddings
    from a broken encoder) are dropped rather than divided: x/0 or
    NaN arithmetic would yield NaN components that poison every
    downstream dot product and, worse, the IVF centroid means — one
    NaN vector in a list makes the whole centroid NaN. `> 0` alone
    would NOT exclude a NaN norm (Spark evaluates NaN > 0 as true)."""
    out = df.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).withColumn("_nrm", norm("_v"))
    return out.where(
        (F.col("_nrm") > 0.0) & ~F.isnan(F.col("_nrm"))
    ).select(
        "_id",
        F.expr(
            "zip_with(_v, array_repeat(_nrm, size(_v)), (x, n) -> x / n)"
        ).alias("_nv"),
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_list: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means coarse quantizer (the IVF training step).

    Seeds = the n_list rows ranking lowest by xxhash64(id) — a
    deterministic pseudo-random sample (TakeOrdered, no full shuffle).
    Each Lloyd iteration assigns every vector with the map-only literal
    expression and re-estimates means from a (list_id, dim) partial
    aggregate: the explode shuffles only n_list x dim running sums per
    partition (map-side combine), and only n_list x dim tiny rows reach
    the driver. Train on a SAMPLE at 100 TB — the quantizer doesn't
    need the full corpus."""
    return _train_ivf(corpus, n_list, iters, id_col, vec_col)[0]


def _train_ivf(
    corpus: DataFrame,
    n_list: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """``train_ivf_centroids`` plus the checkpointed normalized rows it
    trained on, so an index build can assign the SAME materialized
    (_id, _nv) frame instead of re-scanning and re-normalizing the
    corpus for the final assignment (r17, guide §2.3)."""
    # Materialize the normalized rows once: seeds + every Lloyd
    # iteration each trigger an action, and without the checkpoint each
    # one re-runs the scan+normalize from the corpus (iters+1 times).
    unit = materialize(_unit_rows(corpus, id_col, vec_col), "similarity.unit_rows")
    seeds = (
        unit.orderBy(F.xxhash64(F.col("_id").cast("string")))
        .limit(n_list)
        .collect()
    )
    centroids = [list(r._nv) for r in seeds]
    spark = corpus.sparkSession
    for _ in range(iters):
        # Assignment via the broadcast-join path, NOT the literal
        # expression: scoring against literal centroids compiles
        # O(n_list x dim) literals into the plan — measured ~20 s of
        # driver analysis PER ITERATION at just 16x64, and intractable
        # at the thousands of lists a 100 TB quantizer needs. Identical
        # scoring and tie-break, so centroid evolution is unchanged.
        assigned = assign_lists_join(unit, centroids_df(spark, centroids)).select(
            "list_id", F.posexplode("_nv").alias("dim", "x")
        )
        sums = (
            assigned.groupBy("list_id", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in sums:
            by_list.setdefault(r.list_id, {})[r.dim] = r.s
            counts[r.list_id] = r.n
        new = []
        for i, old in enumerate(centroids):
            if i not in by_list:
                new.append(old)  # empty list keeps its seed
                continue
            mean = [by_list[i][d] / counts[i] for d in range(len(old))]
            nrm = sum(x * x for x in mean) ** 0.5 or 1.0
            new.append([x / nrm for x in mean])
        centroids = new
    return centroids, unit


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF serving path: assign the corpus to inverted lists (map-only
    literal projection — at scale this column is written once with the
    table, bucketed by list_id), explode each query into its n_probe
    probe lists, and join on list_id so each query scores only ~
    (n_probe / n_list) of the corpus. Output matches ``cosine_topk``'s
    shape plus the probed list id; with n_probe = n_list the result is
    exactly the brute-force ranking.

    Skew note: list occupancy is data-dependent; pick n_list >> executor
    count at scale and AQE's skew-join handles residual imbalance (or
    split hot lists with ``operators.skew``)."""
    c = _unit_rows(corpus, id_col, vec_col).select(
        F.col("_id").alias("neighbor_id"),
        F.col("_nv").alias("cv"),
        _assign_expr("_nv", centroids).alias("list_id"),
    )
    q = (
        _unit_rows(queries, id_col, vec_col)
        .select(
            F.col("_id").alias("query_id"),
            F.col("_nv").alias("qv"),
            F.explode(_probe_expr("_nv", centroids, n_probe)).alias("list_id"),
        )
    )
    scored = (
        c.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", dot("qv", "cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "list_id", "neighbor_id", "cosine_sim", "rnk")
    )


def embedding_decontamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = True,
    num_bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Semantic decontamination: flag corpus items whose embedding is
    near-identical (cosine >= threshold) to ANY held-out eval item —
    the companion check to the n-gram overlap in
    ``operators.dedup.ngram_overlap_contamination``, catching
    paraphrased or reformatted contamination the lexical test misses.

    Output, one row per usable-norm corpus vector:
      (id, best_eval_sim, matched_eval_id, is_contaminated)
    with best_eval_sim = 0.0 / matched_eval_id = NULL when no eval
    candidate was met. Zero/NaN-norm vectors drop on both sides
    (``usable_norm`` — same posture as every other embeddings entry).

    Scale: the eval set is benchmark-sized, so it BROADCASTS either
    way. ``use_lsh=True`` is the 100 TB path: both sides take banded
    hyperplane signatures and the corpus only scores eval candidates
    sharing >= 1 band bucket — per-row work proportional to bucket
    collisions, not |eval|; recall approaches 1 for the high-cosine
    pairs a >= 0.9 threshold targets (misses need every band to
    split the pair). ``use_lsh=False`` scores every (corpus, eval)
    pair exactly — the small-eval baseline and the recall yardstick
    in tests."""
    # Norms ride as columns computed below the candidate join — once
    # per row, not once per (corpus, eval) candidate pair; the division
    # consumes identical doubles, so results are bit-identical (same
    # rationale as ``cosine_topk``, guide §2.3).
    c = (
        corpus.select(F.col(id_col), as_double_array(vec_col).alias("cv"))
        .withColumn("_cn", norm("cv"))
        .where((F.col("_cn") > 0.0) & ~F.isnan(F.col("_cn")))
    )
    e = (
        eval_set.select(
            F.col(id_col).alias("_eval_id"),
            as_double_array(vec_col).alias("ev"),
        )
        .withColumn("_en", norm("ev"))
        .where((F.col("_en") > 0.0) & ~F.isnan(F.col("_en")))
    )

    if use_lsh:
        cb = with_lsh_bands(
            c.withColumnRenamed("cv", "embedding"),
            num_bands=num_bands,
            planes_per_band=planes_per_band,
            dim=dim,
        ).select(
            F.col(id_col),
            F.col("embedding").alias("cv"),
            "_cn",
            "band_idx",
            "band_bucket",
        )
        eb = with_lsh_bands(
            e.withColumnRenamed("ev", "embedding"),
            num_bands=num_bands,
            planes_per_band=planes_per_band,
            dim=dim,
        ).select(
            "_eval_id",
            F.col("embedding").alias("ev"),
            "_en",
            "band_idx",
            "band_bucket",
        )
        pairs = cb.join(
            F.broadcast(eb), ["band_idx", "band_bucket"]
        ).select(id_col, "cv", "_cn", "_eval_id", "ev", "_en")
    else:
        pairs = c.crossJoin(F.broadcast(e))

    scored = (
        pairs.withColumn(
            "_sim", dot("cv", "ev") / (F.col("_cn") * F.col("_en"))
        )
        .groupBy(id_col)
        .agg(
            F.max_by("_eval_id", F.struct("_sim", "_eval_id")).alias(
                "matched_eval_id"
            ),
            F.max("_sim").alias("best_eval_sim"),
        )
    )
    return (
        c.select(id_col)
        .join(scored, id_col, "left")
        .withColumn(
            "best_eval_sim", F.coalesce(F.col("best_eval_sim"), F.lit(0.0))
        )
        .withColumn(
            "is_contaminated", F.col("best_eval_sim") >= F.lit(threshold)
        )
        .withColumn(
            "matched_eval_id",
            F.when(F.col("is_contaminated"), F.col("matched_eval_id")),
        )
        .select(id_col, "best_eval_sim", "matched_eval_id", "is_contaminated")
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector cluster assignment under a trained spherical k-means
    quantizer: (id, cluster_id, centroid_sim). Map-only — the
    centroids are plan literals (``_assign_expr``), so this runs as a
    projection over the scan with no join and no shuffle; the corpus
    semantic organization step (topic bucketing, cluster-balanced
    sampling, per-cluster curation) at any scale."""
    unit = _unit_rows(corpus, id_col, vec_col)
    best = ", ".join(
        f"aggregate(zip_with(_nv, {_centroid_lit(c)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        for c in centroids
    )
    return unit.select(
        F.col("_id").alias(id_col),
        _assign_expr("_nv", centroids).alias("cluster_id"),
        F.expr(f"array_max(array({best}))").alias("centroid_sim"),
    )


def cluster_profile(assigned: DataFrame) -> DataFrame:
    """Per-cluster corpus profile over ``assign_clusters`` output:
    size, share of corpus, and centroid-similarity spread (mean/min)
    — the report that drives cluster-balanced mixing and spot-checks
    quantizer health (a cluster with low mean similarity is too
    coarse; an empty one wasted a list). One map-side-combined
    aggregate + one scalar broadcast for the share."""
    total = assigned.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.avg("centroid_sim").alias("mean_sim"),
            F.min("centroid_sim").alias("min_sim"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "corpus_share",
            F.col("n_vectors").cast("double") / F.col("_n").cast("double"),
        )
        .drop("_n")
        .orderBy("cluster_id")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """Cluster-scoped exact duplicate pairs — the SemDeDup posture
    (Abbas et al. 2023, arXiv:2303.09540): semantic duplicates are
    found by EXACT pairwise cosine, but only WITHIN each k-means
    cluster, so the quadratic term is (corpus/k)^2 per cluster instead
    of corpus^2 — the clustering is the blocking structure, playing
    the role LSH bands play for MinHash.

    Output: (cluster_id, {id}_a, {id}_b, cosine_sim) for every
    within-cluster pair at/above ``threshold``, a < b. Assignment uses
    the broadcast-join path (scales in n_list); the self-join shuffles
    on cluster_id only. The deliberate approximation — near-dups
    assigned to DIFFERENT clusters are never compared — is the
    algorithm's published trade, not an implementation shortcut.

    ``max_cluster_size`` is the scale guard: one mega-cluster would
    quietly reintroduce the all-pairs blowup, so a cluster exceeding
    the cap raises ``ValidationError`` (train more centroids —
    n_list ~ sqrt(corpus) keeps expected occupancy at sqrt(corpus))."""
    pairs, _ = _semantic_pairs_assigned(
        corpus, centroids, threshold, id_col, vec_col, max_cluster_size
    )
    return pairs


def _semantic_pairs_assigned(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str,
    vec_col: str,
    max_cluster_size: int,
) -> tuple[DataFrame, DataFrame]:
    """``semantic_dedup_pairs`` plus the checkpointed assignment it is
    built on, so ``semantic_dedup`` can derive its quality scores from
    the SAME materialized (_id, list_id, _nv) rows instead of paying
    the corpus-wide assignment shuffle a second time (r17, guide §2.3:
    the assignment is the expensive subtree — normalize + n_list dots
    per row + a full groupBy(_id) combine — and it is deterministic,
    so reuse is bit-identical)."""
    from redis_lsm_timeseries_spark.errors import ValidationError

    spark = corpus.sparkSession
    unit = _unit_rows(corpus, id_col, vec_col)
    assigned = materialize(  # both join sides + the guard scan
        assign_lists_join(unit, centroids_df(spark, centroids)), "similarity.assigned_lists"
    )
    top = (
        assigned.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .first()
        .m
    )
    if top is not None and top > max_cluster_size:
        raise ValidationError(
            f"semantic_dedup: largest cluster holds {top} vectors "
            f"(> max_cluster_size={max_cluster_size}); the within-"
            "cluster pair join would blow up quadratically — train "
            "more centroids (n_list ~ sqrt(corpus)) or raise the cap"
        )
    a = assigned.select(
        F.col("list_id").alias("cluster_id"),
        F.col("_id").alias(f"{id_col}_a"),
        F.col("_nv").alias("_va"),
    )
    b = assigned.select(
        F.col("list_id").alias("cluster_id"),
        F.col("_id").alias(f"{id_col}_b"),
        F.col("_nv").alias("_vb"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .withColumn("cosine_sim", dot("_va", "_vb"))
        .where(F.col("cosine_sim") >= float(threshold))
        .select("cluster_id", f"{id_col}_a", f"{id_col}_b", "cosine_sim")
    )
    return pairs, assigned


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """SemDeDup end to end: corpus rows surviving semantic
    deduplication. Duplicate groups are the connected components of
    the within-cluster pair graph; the kept member is the one with the
    LOWEST centroid similarity (the paper's rule — the most atypical
    copy carries the most information; boilerplate variants hug the
    centroid), ties broken by minimum id. Vectors in no pair — and
    zero/NaN-norm vectors, which never enter the graph — survive
    unchanged.

    Composition of already-skew-hardened pieces: cluster-scoped pairs
    (blocking), join-based large/small-star components (no per-node
    arrays), and the two-phase partial-aggregated winner pick of
    ``canonical_docs_by`` — no per-cluster window anywhere."""
    from redis_lsm_timeseries_spark.operators.components import (
        canonical_docs_by,
    )

    spark = corpus.sparkSession
    pairs, assigned = _semantic_pairs_assigned(
        corpus, centroids, threshold, id_col, vec_col, max_cluster_size
    )
    cdf = centroids_df(spark, centroids)
    # Score from the SAME checkpointed assignment the pair join reads
    # (r17, guide §2.3) — previously a second assign_lists_join here
    # re-ran the scan + normalize + broadcast-score + groupBy(_id)
    # shuffle over the whole corpus for rows already materialized.
    scored = (
        assigned
        .join(F.broadcast(cdf), "list_id")
        .withColumn("_negsim", -dot("_nv", "centroid"))
        .select(F.col("_id").alias(id_col), "_negsim")
    )
    docs = corpus.join(scored, id_col, "left")
    return canonical_docs_by(
        docs, pairs, "_negsim",
        id_col=id_col, src=f"{id_col}_a", dst=f"{id_col}_b",
    ).drop("_negsim")
