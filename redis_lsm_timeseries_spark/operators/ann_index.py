"""Persistent IVF ANN index through the ``TableCommit`` seam
(VERDICT r9 stretch): the trained coarse quantizer AND the corpus's
inverted-list assignment live as member tables of ONE manifest root,
committed together in one atomic log entry — the serving path survives
restarts (all state on disk, nothing cached in objects) and a rebuild
under a live reader is snapshot-isolated (the reader's resolved file
list stays valid through the manifest's vacuum retention; new readers
see the new generation).

Members of ``{index_path}``:

- ``centroids``: (list_id int, centroid array<double>) — n_list rows,
  the spherical k-means quantizer (broadcast at serve time; never
  inlined as plan literals, so n_list can grow to the thousands a
  100 TB corpus needs);
- ``vectors``: (<id>, list_id int, nv array<double>) — one row per
  usable corpus vector, UNIT-NORMALIZED at build time and
  RANGE-clustered by ``list_id``, so serving never rescans or
  renormalizes the corpus: the index IS the searchable copy. Each
  file covers a contiguous band of lists, so its manifest min/max
  stats are tight and a probe's list set prunes files at plan time
  (``read_table_pruned``) — a probe reads only its
  ~(probed / n_list) file slice, at 100 TB the difference between
  touching the whole member and a handful of files.

The two members must agree (assignments are meaningless under another
generation's centroids) — which is exactly what
``ManifestCommit.replace_tables``'s atomic multi-member swap
guarantees; the plain-directory fallback degrades to ordered
overwrites with a documented mixed-generation crash window.

A standalone manifest table driven through ``CommitHost``, no
``TimeseriesStore`` required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.similarity import (
    _train_ivf,
    _unit_rows,
    assign_lists_join,
    centroids_df,
    dot,
    probe_lists_join,
)
from redis_lsm_timeseries_spark.session import materialize

CENTROIDS_MEMBER = "centroids"
VECTORS_MEMBER = "vectors"

#: serve-time file skipping collects the query batch's distinct
#: probed list_ids (bounded by n_queries x n_probe) to prune vector
#: files; a batch probing more lists than this reads the full member
#: (at that fan-out the full scan is the right plan regardless).
PROBE_PRUNE_MAX = 256


def _host(spark: SparkSession, fs=None) -> CommitHost:
    return CommitHost(spark, fs)


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    n_list: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
) -> dict:
    """Train the quantizer on ``corpus`` and commit centroids +
    normalized assignments as one atomic manifest entry. Rebuilding
    over an existing index REPLACES both members together; a reader
    that resolved the previous generation keeps scanning its retained
    files. Returns {n_list, n_vectors, version}."""
    spark = corpus.sparkSession
    if corpus.limit(1).count() == 0:
        # Fail the validatable precondition with a typed error instead
        # of committing an empty vectors member whose schema-less
        # read-back raises a raw FileNotFoundError (and before
        # train_ivf_centroids would seed zero centroids).
        raise ValidationError(
            f"build_ivf_index: corpus for {index_path!r} is empty — "
            "an IVF index needs at least one vector to train on"
        )
    # Train and keep the CHECKPOINTED normalized rows: the final
    # assignment below reads the same materialized (_id, _nv) frame
    # the Lloyd iterations used instead of re-scanning + re-normalizing
    # the corpus (r17, guide §2.3).
    centroids, unit = _train_ivf(
        corpus, n_list=n_list, iters=iters, id_col=id_col, vec_col=vec_col
    )
    cent_df = centroids_df(spark, centroids)
    # broadcast-join assignment (scales in n_list; the literal
    # expression path compiles O(n_list x dim) literals — see
    # assign_lists_join)
    #
    # Range-cluster by list_id (not hash): each written file then
    # covers a CONTIGUOUS narrow band of lists, so its manifest
    # min/max list_id stats are tight and a probe's list set prunes
    # files at plan time (hash clustering would spread e.g. lists
    # {0, 9} into one file, giving useless min=0/max=9 spans).
    # The assignment is checkpointed FIRST: repartitionByRange runs a
    # range-boundary SAMPLING pass over its child, so without the
    # materialization the whole corpus-wide assign shuffle executed
    # twice — once for the sample, once for the write (r17, guide §1).
    vectors = materialize(
        assign_lists_join(unit, cent_df).select(
            F.col("_id").alias(id_col),
            F.col("list_id"),
            F.col("_nv").alias("nv"),
        ),
        "ann_index.assigned_vectors",
    ).repartitionByRange(
        max(1, min(n_list, 8)), "list_id"
    )
    host = _host(spark, fs)
    commit = ManifestCommit()
    commit.replace_tables(
        host,
        index_path,
        {CENTROIDS_MEMBER: cent_df, VECTORS_MEMBER: vectors},
    )
    version, tables = commit._current(host, index_path)
    # count from the COMMITTED files (parquet footer metadata), not the
    # build pipeline — counting `vectors` would re-run the whole
    # normalize+assign derivation a second time
    n_vectors = commit.read_table(
        host, f"{index_path}/{VECTORS_MEMBER}"
    ).count()
    return {"n_list": n_list, "n_vectors": n_vectors, "version": version}


def ivf_index_topk(
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
) -> DataFrame:
    """Serve top-k from the PERSISTED index — no corpus scan, no
    re-normalization, no retraining: the committed centroids broadcast
    against the (small) query batch to pick each query's n_probe
    lists, and the stored normalized vectors join on list_id. Output
    schema matches ``similarity.ivf_topk``:
    (query_id, list_id, neighbor_id, cosine_sim, rnk)."""
    spark = queries.sparkSession
    host = _host(spark, fs)
    commit = ManifestCommit()
    cent_df = commit.read_table(host, f"{index_path}/{CENTROIDS_MEMBER}")
    # probe-list expansion via the broadcast-join path — the committed
    # centroids never leave the cluster, and the plan stays small at
    # any n_list (the literal-expression probe compiles n_list x dim
    # literals per query projection)
    q = probe_lists_join(
        _unit_rows(queries, id_col, vec_col), cent_df, n_probe
    ).select(
        F.col("_id").alias("query_id"),
        F.col("_nv").alias("qv"),
        "list_id",
    )
    # Plan-time file skipping on the probed lists: the query side is
    # small by contract (it broadcasts below), so collecting its
    # distinct probed list_ids is bounded by n_queries x n_probe and
    # capped at PROBE_PRUNE_MAX + 1 rows — within the cap, the
    # range-clustered vectors member is read through the manifest's
    # stats prune and a probe scans only its ~(probed/n_list) file
    # slice; past the cap (a huge query batch probing most lists) the
    # full member is read, which is then the right plan anyway.
    probed = (
        q.select("list_id").distinct().limit(PROBE_PRUNE_MAX + 1).collect()
    )
    predicates = (
        {"list_id": {r.list_id for r in probed}}
        if len(probed) <= PROBE_PRUNE_MAX
        else None
    )
    vectors = commit.read_table_pruned(
        host, f"{index_path}/{VECTORS_MEMBER}", predicates=predicates
    ).select(
        F.col(id_col).alias("neighbor_id"),
        "list_id",
        F.col("nv").alias("cv"),
    )
    scored = (
        vectors.join(F.broadcast(q), "list_id")
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
