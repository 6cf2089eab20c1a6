"""Tiering lifecycle as a driver-checkable query.

The purge pipeline (O8 ``purgeScan`` -> O9 ``purgeAck``,
``enqueue-purge.lua`` / ``ack-purge.lua``) is a sequence of MUTATIONS,
so it can't be a pure query over the shared testdata. This entry runs
the whole lifecycle inside a throwaway temp store built
deterministically from ``events`` and returns the post-ack hot read;
the DuckDB oracle recomputes the expected end state in pure SQL:

    hot_after_ack = base EXCEPT rows-in-marked-partitions
                    UNION the one row written AFTER its partition was
                    marked (write-after-mark survives ack —
                    ``test/consumer-test.js:936-989``, ``index.js:81``)

Determinism: every ingest_ts is pinned (1000 base / 3000 late), the
input collapses to one row per (tag, ts) so LWW never tie-breaks on
generated ids, and purge_scan's eligibility sort (last_seen, tag,
part_start) reduces to (tag, part_start) because all base rows share
one ingest_ts — the oracle's ORDER BY tag, part_start LIMIT K selects
the identical mark set.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from redis_lsm_timeseries_spark.commit import ManifestCommit, ParquetLeaseCommit
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.plans.catalog import register
from redis_lsm_timeseries_spark.session import (
    local_frame,
    materialize,
    pinned_shuffle_partitions,
)
from redis_lsm_timeseries_spark.sources.testdata import load_events
from redis_lsm_timeseries_spark.store import RANGE_RESULT_SCHEMA, TimeseriesStore
from redis_lsm_timeseries_spark.tiering import (
    compact,
    purge_ack,
    purge_ack_many,
    purge_scan,
)

LIFECYCLE_W = 604_800_000  # 7-day partitions over the events time span
LIFECYCLE_K = 4  # partitions to mark per scan (maxPartitionsToMark)
SUBSET_MOD = 20  # bound the temp store to events/20


PURGE_LIFECYCLE_ORACLE = f"""
WITH base AS (
  SELECT event_type AS tag, epoch_ms(ts) AS ts,
         CAST(max(event_id) AS VARCHAR) AS value
  FROM events
  WHERE event_id % {SUBSET_MOD} = 0
  GROUP BY event_type, epoch_ms(ts)
), parts AS (
  SELECT DISTINCT tag, ts - ts % {LIFECYCLE_W} AS part_start FROM base
), marked AS (
  SELECT tag, part_start FROM parts
  ORDER BY tag, part_start LIMIT {LIFECYCLE_K}
), first_mark AS (
  SELECT tag, part_start FROM marked ORDER BY tag, part_start LIMIT 1
), survivors AS (
  SELECT b.tag, b.ts, b.value
  FROM base b
  WHERE NOT EXISTS (
    SELECT 1 FROM marked m
    WHERE m.tag = b.tag AND m.part_start = b.ts - b.ts % {LIFECYCLE_W}
  )
)
SELECT tag, ts, value FROM survivors
UNION ALL
SELECT tag, part_start AS ts, 'late-write' AS value FROM first_mark
"""


@register(
    "tiering_purge_lifecycle",
    oracle=PURGE_LIFECYCLE_ORACLE,
    tags=("tiering", "lifecycle", "mutation"),
)
def tiering_purge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mark -> write-after-mark -> ack lifecycle in a temp store;
    returns the post-ack hot read (LWW-merged) — evicted partitions
    GONE from hot, the late write surviving.

    Exercises: O2 bulk + batch writes, O8 purge_scan coldness aggregate
    + snapshot, O9 purge_ack idempotent anti-join delete (exact-member,
    so the late write survives), and the hot read over the mutated
    store."""
    return _run_lifecycle(spark, sf_dir)


@register(
    "tiering_purge_lifecycle_mhot",
    oracle=PURGE_LIFECYCLE_ORACLE,
    tags=("tiering", "lifecycle", "mutation", "manifest-commit"),
)
def tiering_purge_lifecycle_mhot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The identical mark -> write-after-mark -> ack lifecycle on a
    ``ManifestCommit`` store: the hot tier keeps its directory layout,
    while the cold snapshots and the purge log are committed to
    version logs. Same oracle as ``tiering_purge_lifecycle``, so the
    driver's hash row certifies the purge protocol over the
    transactional backend end to end."""
    return _run_lifecycle(spark, sf_dir, commit_cls=ManifestCommit)


# Cache of materialized lifecycle reads, keyed by Spark application id
# (a cached checkpoint belongs to its session and must not leak
# across restarts) AND by which read the caller wants. Each entry
# materializes ONLY its own read (r17, guide §1.2 — don't compute what
# you throw away): the bench clears this cache before every timed
# draw, so under the old shape every lifecycle entry paid for BOTH the
# hot read and the hot-union-cold read even though it returns one of
# them. Within one warm session (oracle parity, the driver's
# correctness pass) the cache still deduplicates per (want) key; the
# protocol runs once per distinct read because the temp store is gone
# by the time the result is returned.
_LIFECYCLE_CACHE: dict[tuple, DataFrame] = {}


def _outliving(df: DataFrame, label: str) -> DataFrame:
    """``df`` in a form that outlives its temp store: a driver-side
    read's result (a ``local_frame``) already holds its rows; any other
    plan (a store over the driver cap) is materialized now."""
    return df if df.isLocal() else materialize(df, label, eager=True)


def _run_lifecycle(
    spark: SparkSession, sf_dir: str, commit_cls: type = ParquetLeaseCommit,
    want: str = "hot",
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, commit_cls, want)
    if key in _LIFECYCLE_CACHE:
        return _LIFECYCLE_CACHE[key]
    base_dir = tempfile.mkdtemp(prefix="rlts_lifecycle_")
    # The temp store holds ~5k rows; 32+ near-empty shuffle tasks per
    # maintenance job cost more than the work they do.
    with pinned_shuffle_partitions(spark, 8):
        return _run_lifecycle_inner(
            spark, sf_dir, base_dir, key, commit_cls, want
        )


def _run_lifecycle_inner(
    spark: SparkSession, sf_dir: str, base_dir: str, key,
    commit_cls: type, want: str,
) -> DataFrame:
    try:
        cfg = EngineConfig(root=base_dir, partition_width=LIFECYCLE_W)
        store = TimeseriesStore(spark, cfg, commit=commit_cls())
        store.initialize()

        ev = load_events(spark, sf_dir).where(
            F.col("event_id") % SUBSET_MOD == 0
        )
        base = (
            ev.groupBy(
                F.col("event_type").alias("tag"), F.col("ts_ms").alias("ts")
            )
            .agg(F.max("event_id").cast("string").alias("value"))
            .withColumn("seq", F.lit(0).cast("long"))
        )
        store.write_df(base, ingest_ts=1000)

        marks = purge_scan(
            store,
            partition_age_threshold_s=0.0,
            max_partitions_to_mark=LIFECYCLE_K,
            now_ms=2000,
        )
        if not marks:
            raise RuntimeError("lifecycle query marked no partitions")

        # Write INTO the first marked partition after the mark: the ack
        # removes only snapshotted members, so this row must survive.
        first = marks[0]
        store.write(
            [(first.tag, first.part_start, "late-write")], ingest_ts=3000
        )

        acked = purge_ack_many(store, [m.purge_id for m in marks])
        if not all(acked.values()):
            raise RuntimeError(f"ack failed: {acked}")
        # Re-ack must be a no-op (idempotency gate, ack-purge.lua:7-8).
        if purge_ack(store, marks[0].purge_id):
            raise RuntimeError("re-ack was not idempotent")

        # read_all is read_range over every tag and the whole range,
        # without the tag-enumeration job a range map would need. The
        # hot read is the hot tier's LWW winners, tombstones included;
        # the unified read is hot UNION cold, member-identity dedup, LWW.
        if want == "union":
            out = _outliving(store.read_all(include_cold=True), "lifecycle.read_all_cold")
        else:
            out = _outliving(store.read_all(with_tombstones=True), "lifecycle.read_all")
        _LIFECYCLE_CACHE[key] = out
        return out
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@register(
    "tiering_cold_union_read",
    oracle=f"""
WITH base AS (
  SELECT event_type AS tag, epoch_ms(ts) AS ts,
         CAST(max(event_id) AS VARCHAR) AS value
  FROM events
  WHERE event_id % {SUBSET_MOD} = 0
  GROUP BY event_type, epoch_ms(ts)
), parts AS (
  SELECT DISTINCT tag, ts - ts % {LIFECYCLE_W} AS part_start FROM base
), marked AS (
  SELECT tag, part_start FROM parts
  ORDER BY tag, part_start LIMIT {LIFECYCLE_K}
), first_mark AS (
  SELECT tag, part_start FROM marked ORDER BY tag, part_start LIMIT 1
)
SELECT b.tag, b.ts, b.value
FROM base b
WHERE NOT EXISTS (
  SELECT 1 FROM first_mark m WHERE m.tag = b.tag AND m.part_start = b.ts
)
UNION ALL
SELECT tag, part_start AS ts, 'late-write' AS value FROM first_mark
""",
    tags=("tiering", "lifecycle", "mutation"),
)
def tiering_cold_union_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified hot-union-cold read AFTER the purge lifecycle (O11
    consumption side): evicted data is served from the cold tier, the
    at-least-once duplicate window (snapshotted-but-then-acked members)
    collapses by member identity, and the post-mark late write wins its
    key by LWW. Expected result = the ORIGINAL dataset with the late
    write applied — tiering must never lose data."""
    return _run_lifecycle(spark, sf_dir, want="union")


@register(
    "compaction_rewrite",
    oracle=f"""
WITH base AS (
  SELECT event_type AS tag, epoch_ms(ts) AS ts,
         CAST(max(event_id) AS VARCHAR) AS value
  FROM events
  WHERE event_id % {SUBSET_MOD} = 0
  GROUP BY event_type, epoch_ms(ts)
)
SELECT tag, ts,
       CASE WHEN ts % 2 = 0 THEN value || '-u' ELSE value END AS value
FROM base
""",
    tags=("tiering", "compaction", "mutation"),
)
def compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW compaction (``recipe:43``'s open TODO): load a base batch,
    update half the keys in a second batch (duplicate members, LSM
    style), run ``compact``, and return the RAW hot read — no LWW merge
    on the way out, so the check only passes if compaction PHYSICALLY
    collapsed every duplicate to its winner."""
    base_dir = tempfile.mkdtemp(prefix="rlts_compact_")
    # ~5k-row temp store: size the shuffles to the data (see
    # _run_lifecycle).
    try:
        with pinned_shuffle_partitions(spark, 8):
            cfg = EngineConfig(root=base_dir, partition_width=LIFECYCLE_W)
            store = TimeseriesStore(spark, cfg)
            store.initialize()

            ev = load_events(spark, sf_dir).where(
                F.col("event_id") % SUBSET_MOD == 0
            )
            base = (
                ev.groupBy(
                    F.col("event_type").alias("tag"),
                    F.col("ts_ms").alias("ts"),
                )
                .agg(F.max("event_id").cast("string").alias("value"))
                .withColumn("seq", F.lit(0).cast("long"))
            )
            store.write_df(base, ingest_ts=1000)
            updates = base.where(F.col("ts") % 2 == 0).withColumn(
                "value", F.concat(F.col("value"), F.lit("-u"))
            )
            store.write_df(updates, ingest_ts=2000)

            metrics = compact(store)
            if metrics.rows_after >= metrics.rows_before:
                raise RuntimeError(f"compaction removed nothing: {metrics}")

            # the raw members, read on the driver unless the store is
            # over the cap: no LWW merge on the way out
            got = store._driver_members(None)
            if got is None:
                return materialize(
                    store.hot().select("tag", "ts", "value"), "lifecycle.compaction_rewrite",
                    eager=True,
                )
            return local_frame(spark, got[1], RANGE_RESULT_SCHEMA)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


# --------------------------------------------------- continuous rollup
ROLLUP_STEP = 86_400_000  # 1-day buckets
#: phase-2 cutoff: first 3 days of the events span (2024-01-01 UTC)
ROLLUP_P2_CUTOFF = 1_704_067_200_000 + 3 * 86_400_000


@register(
    "rollup_incremental_lifecycle",
    oracle=f"""
WITH p1 AS (
  SELECT event_type AS tag, epoch_ms(ts) AS ts,
         CAST(max(event_id) AS VARCHAR) AS value
  FROM events
  WHERE event_id % {SUBSET_MOD} = 0
  GROUP BY event_type, epoch_ms(ts)
), p2 AS (
  SELECT event_type AS tag, epoch_ms(ts) AS ts,
         CAST(max(event_id) AS VARCHAR) AS value
  FROM events
  WHERE event_id % {SUBSET_MOD} = 1
    AND epoch_ms(ts) < {ROLLUP_P2_CUTOFF}
  GROUP BY event_type, epoch_ms(ts)
), merged AS (
  SELECT tag, ts, value FROM p2
  UNION ALL
  SELECT tag, ts, value FROM p1
  WHERE NOT EXISTS (
    SELECT 1 FROM p2 WHERE p2.tag = p1.tag AND p2.ts = p1.ts
  )
)
SELECT tag,
       ts - ts % {ROLLUP_STEP} AS bucket_start,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_numeric,
       CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
         AS sum_num,
       min(CAST(value AS DOUBLE)) AS min_num,
       max(CAST(value AS DOUBLE)) AS max_num,
       CAST(count(DISTINCT value) AS BIGINT) AS n_distinct
FROM merged
GROUP BY tag, bucket_start
""",
    tags=("rollup", "lifecycle", "mutation"),
)
def rollup_incremental_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-phase continuous-rollup lifecycle in a temp store: write a
    base corpus, create the rollup (full compute), write a second
    batch confined to the first three days — including LWW updates of
    phase-1 keys — and refresh INCREMENTALLY. Returns the maintained
    rollup table; the oracle recomputes the end state in pure SQL
    (phase-2 rows win their keys, day buckets aggregated with DECIMAL
    accumulation). The query itself asserts the second refresh touched
    FEWER buckets than the first — proving the incremental path ran,
    not a silent full recompute."""
    import shutil
    import tempfile

    from redis_lsm_timeseries_spark.rollup import (
        read_rollup,
        refresh_rollup,
    )

    base_dir = tempfile.mkdtemp(prefix="rlts_rollup_lc_")
    with pinned_shuffle_partitions(spark, 8):
        try:
            cfg = EngineConfig(root=base_dir, partition_width=LIFECYCLE_W)
            store = TimeseriesStore(spark, cfg)
            store.initialize()
            ev = load_events(spark, sf_dir)
            p1 = (
                ev.where(F.col("event_id") % SUBSET_MOD == 0)
                .groupBy(
                    F.col("event_type").alias("tag"),
                    F.col("ts_ms").alias("ts"),
                )
                .agg(F.max("event_id").cast("string").alias("value"))
                .withColumn("seq", F.lit(0).cast("long"))
            )
            store.write_df(p1, ingest_ts=1000)
            m1 = refresh_rollup(store, "daily", ROLLUP_STEP)
            p2 = (
                ev.where(
                    (F.col("event_id") % SUBSET_MOD == 1)
                    & (F.col("ts_ms") < ROLLUP_P2_CUTOFF)
                )
                .groupBy(
                    F.col("event_type").alias("tag"),
                    F.col("ts_ms").alias("ts"),
                )
                .agg(F.max("event_id").cast("string").alias("value"))
                .withColumn("seq", F.lit(0).cast("long"))
            )
            store.write_df(p2, ingest_ts=2000)
            m2 = refresh_rollup(store, "daily", ROLLUP_STEP)
            if not (0 < m2.buckets_refreshed < m1.buckets_refreshed):
                raise RuntimeError(
                    f"refresh was not incremental: phase1 "
                    f"{m1.buckets_refreshed} buckets, phase2 "
                    f"{m2.buckets_refreshed}"
                )
            return _outliving(read_rollup(store, "daily"), "lifecycle.read_rollup")
        finally:
            shutil.rmtree(base_dir, ignore_errors=True)


# ---------------------------------------------------------------- r13
# Metadata-only serving, certified by the driver: the entry RAISES
# unless every answer came from the manifest log alone (fast_count /
# fast_min_max return None on any scan-fallback condition), so a full
# hash match in CORRECTNESS certifies the zero-storage-read path the
# way the rollup entry certifies incremental refresh.

FAST_MOD = 10  # bound the temp table to events/10


@register(
    "metadata_fast_stats",
    oracle=f"""
WITH base AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
  WHERE event_id % {FAST_MOD} = 0
)
SELECT CAST(count(*) AS BIGINT) AS total_rows,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS click_rows,
       CAST(min(ts_ms) AS BIGINT) AS ts_min,
       CAST(max(ts_ms) AS BIGINT) AS ts_max,
       CAST(min(event_id) AS BIGINT) AS id_min,
       CAST(max(event_id) AS BIGINT) AS id_max
FROM base
""",
    tags=("maintenance", "metadata", "mutation"),
)
def metadata_fast_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Answer count / filtered-count / min / max over a manifest table
    FROM THE LOG ALONE — zero data files opened — and RAISE if the
    metadata path cannot prove any answer (the scan fallback would
    have to run). Exercises: per-file stats on write, type-tagged stat
    normalization, ``fast_count``'s all-rows-match proof on a
    per-file-constant column, and ``fast_min_max``.

    100 TB shape: the questions a catalog/monitoring layer asks a
    100k-file table constantly ("how many rows", "what time range")
    are answered with zero storage IO — the Delta metadata-only
    aggregate idiom on this engine's own log."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.commit import (
        CommitHost,
        ManifestCommit,
    )
    from redis_lsm_timeseries_spark.maintenance import (
        fast_count,
        fast_min_max,
    )

    base_dir = _tempfile.mkdtemp(prefix="rlts_faststats_")
    try:
        host, commit = CommitHost(spark), ManifestCommit()
        path = f"{base_dir}/t"
        ev = (
            load_events(spark, sf_dir)
            .where(F.col("event_id") % FAST_MOD == 0)
            .select("event_id", "ts_ms", "event_type")
        )
        # ONE atomic hive-partitioned commit (r14, VERDICT r13 #7):
        # each partition dir's files get exact min==max event_type
        # stats from their path segment, so a type predicate proves
        # all-or-none per file — the layout fast_count's exact
        # counting requires, landed in a single multi-file log entry
        # instead of a Python loop of per-type commits
        commit.append_partitioned(
            host, ev.coalesce(1), path, ["event_type"]
        )
        preds = {"event_type": {"click"}}
        answers = {
            "total_rows": fast_count(host, path, commit=commit),
            "click_rows": fast_count(host, path, preds, commit=commit),
            "ts": fast_min_max(host, path, "ts_ms", commit=commit),
            "id": fast_min_max(host, path, "event_id", commit=commit),
        }
        missing = [k for k, v in answers.items() if v is None]
        if missing:
            raise AssertionError(
                f"metadata-only path fell back to a scan for {missing} "
                "— the stats no longer prove the answers"
            )
        row = (
            int(answers["total_rows"]),
            int(answers["click_rows"]),
            int(answers["ts"][0]),
            int(answers["ts"][1]),
            int(answers["id"][0]),
            int(answers["id"][1]),
        )
        return spark.createDataFrame(
            [row],
            "total_rows long, click_rows long, ts_min long, "
            "ts_max long, id_min long, id_max long",
        )
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)


# --------------------------------------------------------------- connector
# Registered driver entry since r15 (slot freed by retiring
# scalar_functions_events, whose scalar surface a dozen other oracles
# exercise): a connector WRITE (two-phase Arrow writer, one atomic log
# entry) into a throwaway manifest table, read back through the
# connector's BATCH reader with a range filter whose pushFilters
# envelope prunes the scan, compared cell-exact against DuckDB
# recomputing the subset.
CONNECTOR_ROUNDTRIP_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       event_type,
       CAST(value AS DOUBLE) AS value
FROM events
WHERE event_id % 20 = 0 AND event_id BETWEEN 1000 AND 5000
"""


@register(
    "connector_roundtrip",
    oracle=CONNECTOR_ROUNDTRIP_ORACLE,
    tags=("connector", "lifecycle", "mutation"),
)
def connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a deterministic events slice through
    ``df.write.format("rlts_table")``, read it back through the
    connector's pushdown batch reader with a range filter, and return
    the logical result — the full read/write connector surface under
    one differential check."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.sources.manifest_stream import (
        read_table_batch,
        register_manifest_source,
    )

    register_manifest_source(spark)
    base_dir = _tempfile.mkdtemp(prefix="rlts_connector_")
    try:
        path = f"{base_dir}/t"
        ev = (
            load_events(spark, sf_dir)
            .where(F.col("event_id") % 20 == 0)
            .select("event_id", "event_type", "value")
        )
        # range-clustered shards so the read-side range filter's
        # pushdown envelope genuinely prunes files
        (
            ev.repartitionByRange(4, "event_id")
            .write.format("rlts_table")
            .option("path", path)
            .mode("append")
            .save()
        )
        out = read_table_batch(
            spark, path,
            schema="event_id long, event_type string, value double",
        ).where(F.col("event_id").between(1000, 5000))
        return materialize(out, "lifecycle.connector_roundtrip", eager=True)  # outlives the rmtree
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)


# ------------------------------------------------------- deletion vectors
# Registered driver entry since r15 (slot freed by retiring
# ts_top_k_per_tag, whose arg-max window shape ts_lww_update already
# driver-covers): a throwaway manifest table takes a DV DELETE
# (positions blob, data files untouched) then a DV MERGE (matched rows
# position-deleted, applied rows appended, previously-deleted keys
# re-inserted as unmatched), and the final read — served through the
# position anti-join — must equal DuckDB computing the same clause
# algebra directly. Exercises: restat commits, superseding blobs,
# fully-composed read path, and the merge clause semantics on the
# merge-on-read plan.
DV_ROW_MUTATION_ORACLE = """
WITH slice AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         event_type,
         CAST(value AS DOUBLE) AS value
  FROM events WHERE event_id % 50 = 0
)
SELECT event_id, event_type,
       CASE WHEN event_id % 700 = 0 THEN -1.0 ELSE value END AS value
FROM slice
WHERE event_id % 400 <> 0 OR event_id % 700 = 0
"""


@register(
    "dv_row_mutation",
    oracle=DV_ROW_MUTATION_ORACLE,
    tags=("lifecycle", "mutation", "deletion-vectors"),
)
def dv_row_mutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV delete + DV merge on a throwaway manifest table; returns
    the final state read through the deletion-vector scan."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.commit import (
        CommitHost,
        ManifestCommit,
    )
    from redis_lsm_timeseries_spark.operators.merge import (
        delete_rows,
        merge_into,
    )

    base_dir = _tempfile.mkdtemp(prefix="rlts_dv_")
    try:
        host, commit = CommitHost(spark), ManifestCommit()
        path = f"{base_dir}/t"
        slice_df = (
            load_events(spark, sf_dir)
            .where(F.col("event_id") % 50 == 0)
            .select("event_id", "event_type", "value")
        )
        commit.append_tables(
            host, path,
            {"": slice_df.repartitionByRange(4, "event_id")},
        )
        delete_rows(
            host, path,
            slice_df.where(F.col("event_id") % 400 == 0)
            .select("event_id"),
            ["event_id"], commit=commit, mode="dv",
        )
        merge_into(
            host, path,
            slice_df.where(F.col("event_id") % 700 == 0)
            .withColumn("value", F.lit(-1.0)),
            ["event_id"], commit=commit, mode="dv",
        )
        # explicit schema: the table was created from this exact
        # projection two statements up — schema inference on the final
        # read would be one more driver job (r18, guide §1.2)
        out = commit.read_table(
            host, path,
            schema="event_id long, event_type string, value double",
        ).select("event_id", "event_type", "value")
        return materialize(out, "lifecycle.dv_row_mutation", eager=True)  # outlives the rmtree
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)


from redis_lsm_timeseries_spark.plans.reference_queries import (  # noqa: E402
    UNREGISTERED_ORACLES,
)

# ------------------------------------------------------- replace_range
# Oracle-checked differential for the atomic replaceWhere primitive
# (r14): a throwaway manifest table takes a band replacement — every
# row in [lo, hi] swapped for a recomputed source in ONE commit — and
# the final read must equal DuckDB computing the same swap algebra
# (survivors outside the band + the recomputed rows inside it).
REPLACE_RANGE_ORACLE = """
WITH slice AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(value AS DOUBLE) AS value
  FROM events WHERE event_id % 40 = 0
)
SELECT event_id, value FROM slice WHERE event_id < 2000 OR event_id > 6000
UNION ALL
SELECT event_id, -value AS value FROM slice
WHERE event_id BETWEEN 2000 AND 6000 AND event_id % 80 = 0
"""


def replace_range_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band replacement on a throwaway manifest table; returns the
    post-swap state — the backfill/restatement lifecycle under one
    differential check."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.commit import (
        CommitHost,
        ManifestCommit,
    )
    from redis_lsm_timeseries_spark.operators.merge import replace_range

    base_dir = _tempfile.mkdtemp(prefix="rlts_replace_")
    try:
        host, commit = CommitHost(spark), ManifestCommit()
        path = f"{base_dir}/t"
        slice_df = (
            load_events(spark, sf_dir)
            .where(F.col("event_id") % 40 == 0)
            .select("event_id", "value")
        )
        commit.append_tables(
            host, path,
            {"": slice_df.repartitionByRange(4, "event_id")},
        )
        recomputed = (
            slice_df.where(
                F.col("event_id").between(2000, 6000)
                & (F.col("event_id") % 80 == 0)
            )
            .withColumn("value", -F.col("value"))
        )
        replace_range(
            host, path, recomputed, "event_id",
            lo=2000, hi=6000, commit=commit,
        )
        out = commit.read_table(host, path).select("event_id", "value")
        return materialize(out, "lifecycle.replace_range_restatement", eager=True)  # outlives the rmtree
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)


UNREGISTERED_ORACLES["replace_range_restatement"] = (
    replace_range_restatement,
    REPLACE_RANGE_ORACLE,
)

# ------------------------------------------------- nested evolution
# Registered driver entry since r16 (slot freed by retiring
# text_lang_id, whose map-only scalar-classify shape the driver
# already covers via text_quality_scores and text_decontaminate; its
# full differential stays pinned in UNREGISTERED_ORACLES): a
# throwaway manifest table takes a struct payload, drops one nested
# field and renames another (both metadata-only), then appends a
# batch in the POST-evolution shape; the final read — pre-change
# files assembled through the nested mapping, post-change files
# verbatim — flattens to scalars (the hash harness compares scalar
# cells) and must equal DuckDB computing the same projection from the
# base table directly.
NESTED_EVOLUTION_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       upper(event_type) AS dev_kind,
       CAST(value AS DOUBLE) AS score
FROM events WHERE event_id % 30 = 0
"""


@register(
    "nested_evolution_roundtrip",
    oracle=NESTED_EVOLUTION_ORACLE,
    tags=("lifecycle", "schema-evolution", "nested"),
)
def nested_evolution_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nested drop + rename on a throwaway manifest table with a
    struct payload; returns the flattened logical view over files
    written BEFORE and AFTER the evolution."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.commit import (
        CommitHost,
        ManifestCommit,
    )

    base_dir = _tempfile.mkdtemp(prefix="rlts_nested_")
    try:
        host, commit = CommitHost(spark), ManifestCommit()
        path = f"{base_dir}/t"
        ev = load_events(spark, sf_dir).where(
            F.col("event_id") % 30 == 0
        )
        # pre-evolution shape: props struct<device, os, score>
        pre = ev.where(F.col("event_id") % 60 == 0).select(
            "event_id",
            F.struct(
                F.upper("event_type").alias("device"),
                F.lit("legacy").alias("os"),
                F.col("value").cast("double").alias("score"),
            ).alias("props"),
        )
        commit.append_tables(
            host, path, {"": pre.repartitionByRange(2, "event_id")}
        )
        commit.drop_column(host, path, "props.os")
        commit.rename_column(host, path, "props.device", "dev_kind")
        # post-evolution shape: props struct<dev_kind, score>
        post = ev.where(F.col("event_id") % 60 != 0).select(
            "event_id",
            F.struct(
                F.upper("event_type").alias("dev_kind"),
                F.col("value").cast("double").alias("score"),
            ).alias("props"),
        )
        commit.append_tables(
            host, path, {"": post.repartitionByRange(2, "event_id")}
        )
        out = commit.read_table(host, path).select(
            "event_id",
            F.col("props.dev_kind").alias("dev_kind"),
            F.col("props.score").alias("score"),
        )
        return materialize(out, "lifecycle.nested_evolution_roundtrip", eager=True)  # outlives the rmtree
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)




# --------------------------------------------------------- SQL DML
# Parity-pinned differential for the r16 SQL DML facade (the 50-slot
# driver budget is spent — the harness in tests/test_oracle_parity.py
# runs the identical rows+schema+hash check): a throwaway manifest
# table takes, THROUGH sql() statements, a predicate UPDATE, a
# predicate DELETE, an IN-list DELETE (r17 — the value-set envelope
# path), and an ordered MULTI-CLAUSE MERGE with column-level SET
# (r17, VERDICT r16 #1: WHEN MATCHED AND t.value < 0 THEN DELETE /
# WHEN MATCHED THEN UPDATE SET value = s.value + t.value — the unset
# event_type column must keep the TARGET value / WHEN NOT MATCHED
# THEN INSERT *), a second MERGE with a conditional WHEN NOT MATCHED
# BY SOURCE DELETE (the r17 third clause family), and an INSERT INTO
# ... VALUES (positional bind + store-assignment cast) — and the
# final read must equal DuckDB computing the same statement algebra.
# Exercises the parser, the update_where/delete_where operators
# (data-derived affected sets, typed change rows) and clause-list
# merge_into dispatch end-to-end.
SQL_DML_ORACLE = """
WITH slice AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         event_type,
         CAST(value AS DOUBLE) AS value
  FROM events WHERE event_id % 45 = 0
), u AS (            -- UPDATE ... SET value = -value WHERE click
  SELECT event_id, event_type,
         CASE WHEN event_type = 'click' THEN -value ELSE value END
           AS value
  FROM slice
), d AS (            -- DELETE ... WHERE event_id % 90 = 0 AND view
  SELECT * FROM u
  WHERE NOT (event_id % 90 = 0 AND event_type = 'view')
), d2 AS (           -- DELETE ... WHERE event_id IN (...)
  SELECT * FROM d
  WHERE event_id NOT IN (90, 180, 315, 630)
), src AS (          -- MERGE source: %135 keys of the base slice
  SELECT event_id, 'merged' AS event_type, 1.5 AS value
  FROM slice WHERE event_id % 135 = 0
), m AS (            -- clause 1: matched AND t.value < 0 -> DELETE
                     -- clause 2: matched -> UPDATE SET value =
                     --   s.value + t.value (event_type keeps TARGET)
  SELECT t.event_id,
         t.event_type,
         CASE WHEN s.event_id IS NOT NULL THEN s.value + t.value
              ELSE t.value END AS value
  FROM d2 t LEFT JOIN src s ON t.event_id = s.event_id
  WHERE NOT (s.event_id IS NOT NULL AND t.value < 0)
), m2 AS (
  SELECT * FROM m
  UNION ALL          -- MERGE unmatched: keys the DELETEs removed
  SELECT s.event_id, s.event_type, s.value
  FROM src s
  WHERE s.event_id NOT IN (SELECT event_id FROM d2)
), bs AS (           -- second MERGE (r17): WHEN NOT MATCHED BY
                     -- SOURCE AND t.event_type = 'purchase' THEN
                     -- DELETE — unmatched = event_id not a %135 key
  SELECT * FROM m2
  WHERE NOT (event_id % 135 <> 0 AND event_type = 'purchase')
)
SELECT * FROM bs
UNION ALL            -- INSERT INTO ... VALUES (r17)
SELECT CAST(v.event_id AS BIGINT), v.event_type,
       CAST(v.value AS DOUBLE)
FROM (VALUES (1000001, 'inserted', 2.25),
             (1000002, 'inserted', 3.5))
     v(event_id, event_type, value)
"""


def sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE + DELETE + IN-list DELETE + multi-clause MERGE +
    by-source MERGE + INSERT + CTAS + SELECT-over-path through the
    ``sql()`` facade on a throwaway manifest table; returns the final
    state (read back via the query front door's rewrite).

    Parity-pinned, NOT driver-registered: the interrupted r17 build
    had swapped this in for ``multimodal_binary_metadata``, but the
    optimization-round contract freezes the declared set at
    CORRECTNESS_r16.json (a disappeared entry is a regression), so the
    swap is reverted and the full rows+schema+values differential runs
    through ``UNREGISTERED_ORACLES`` (tests/test_oracle_parity.py)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.commit import (
        CommitHost,
        ManifestCommit,
    )
    from redis_lsm_timeseries_spark.sql_dml import sql

    base_dir = _tempfile.mkdtemp(prefix="rlts_sqldml_")
    try:
        host, commit = CommitHost(spark), ManifestCommit()
        path = f"{base_dir}/t"
        slice_df = (
            load_events(spark, sf_dir)
            .where(F.col("event_id") % 45 == 0)
            .select("event_id", "event_type", "value")
        )
        commit.append_tables(
            host, path,
            {"": slice_df.repartitionByRange(4, "event_id")},
        )
        sql(
            spark,
            f"UPDATE '{path}' SET value = -value "
            "WHERE event_type = 'click'",
        )
        sql(
            spark,
            f"DELETE FROM '{path}' "
            "WHERE event_id % 90 = 0 AND event_type = 'view'",
        )
        # r17: the IN-list shape — value-set envelope pre-prune
        sql(
            spark,
            f"DELETE FROM '{path}' "
            "WHERE event_id IN (90, 180, 315, 630)",
        )
        slice_df.where(F.col("event_id") % 135 == 0).select(
            "event_id",
            F.lit("merged").alias("event_type"),
            F.lit(1.5).alias("value"),
        ).createOrReplaceTempView("sql_dml_merge_src")
        # r17: ordered multi-clause MERGE with column-level SET —
        # first-match-wins, unset event_type keeps the target value
        sql(
            spark,
            f"""MERGE INTO '{path}' AS t USING sql_dml_merge_src AS s
            ON t.event_id = s.event_id
            WHEN MATCHED AND t.value < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET value = s.value + t.value
            WHEN NOT MATCHED THEN INSERT *""",
        )
        # r17: the third clause family — target rows no source key
        # names, deleted when the condition holds (sync shape)
        sql(
            spark,
            f"""MERGE INTO '{path}' AS t USING sql_dml_merge_src AS s
            ON t.event_id = s.event_id
            WHEN NOT MATCHED BY SOURCE
              AND t.event_type = 'purchase' THEN DELETE""",
        )
        # r17: INSERT INTO ... VALUES (positional bind + store-
        # assignment cast to the member's types)
        sql(
            spark,
            f"INSERT INTO '{path}' VALUES "
            "(1000001, 'inserted', 2.25), (1000002, 'inserted', 3.5)",
        )
        # r17: the query front door closes the loop — CTAS the final
        # state into a second manifest table and read it back through
        # sql()'s SELECT rewrite, so the driver hash row certifies
        # CREATE TABLE AS + SELECT-over-path alongside the DML chain
        sql(
            spark,
            f"CREATE TABLE `{base_dir}/out` AS "
            f"SELECT event_id, event_type, value FROM `{path}`",
        )
        out = sql(
            spark,
            f"SELECT event_id, event_type, value FROM `{base_dir}/out`",
        )
        return materialize(out, "lifecycle.sql_dml_lifecycle", eager=True)  # outlives the rmtree
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)


UNREGISTERED_ORACLES["sql_dml_lifecycle"] = (
    sql_dml_lifecycle, SQL_DML_ORACLE,
)


# ----------------------------------------------- CLONE + COPY INTO
# Parity-pinned differential for the late-r17 table-lifecycle
# statements (no free driver slot — the harness in
# tests/test_oracle_parity.py runs the identical rows+schema+values
# check): a landing directory feeds a table through TWO ``COPY INTO``
# runs — the second lists all three landed file groups but must load
# ONLY the new one (a double-load would duplicate every %60∩%90 row
# and fail the differential — the idempotent-cursor proof), then
# ``CREATE TABLE ... CLONE ... VERSION AS OF`` the post-run-1
# version, DELETE on the clone (source must stay untouched — the
# deep-clone independence proof), and the final read unions both
# sides through the query front door's SELECT rewrite.
CLONE_COPY_ORACLE = """
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         event_type,
         CAST(value AS DOUBLE) AS value
  FROM events
), src AS (            -- COPY run 1 (d1 = %120, d2 = other %60)
                       -- then run 2 appends ONLY the new d3 (%90)
  SELECT * FROM ev WHERE event_id % 60 = 0
  UNION ALL
  SELECT * FROM ev WHERE event_id % 90 = 0
), cl AS (             -- clone AS OF the post-run-1 version (%60
                       -- rows only), then DELETE ... WHERE 'view'
  SELECT * FROM ev
  WHERE event_id % 60 = 0 AND event_type <> 'view'
)
SELECT 'src' AS side, * FROM src
UNION ALL
SELECT 'clone' AS side, * FROM cl
"""


def clone_copy_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO idempotency + deep-clone independence + AS OF time
    travel + the SELECT front door, one differential (r17). RAISES —
    failing the parity check loudly — if the second COPY loads
    anything but the one new file, certifying the cursor path rather
    than a silent re-load that happens to dedup."""
    import shutil as _shutil
    import tempfile as _tempfile

    from redis_lsm_timeseries_spark.commit import (
        CommitHost,
        ManifestCommit,
    )
    from redis_lsm_timeseries_spark.sql_dml import sql

    base_dir = _tempfile.mkdtemp(prefix="rlts_clonecopy_")
    try:
        host, commit = CommitHost(spark), ManifestCommit()
        landing = f"{base_dir}/landing"
        path = f"{base_dir}/t"
        ev = load_events(spark, sf_dir).select(
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        ev.where(F.col("event_id") % 120 == 0).coalesce(
            1
        ).write.parquet(f"{landing}/d1")
        ev.where(
            (F.col("event_id") % 60 == 0)
            & (F.col("event_id") % 120 != 0)
        ).coalesce(1).write.parquet(f"{landing}/d2")
        st1 = sql(spark, f"COPY INTO `{path}` FROM '{landing}'").first()
        if st1.num_files_loaded != 2:
            raise AssertionError(
                f"COPY run 1 loaded {st1.num_files_loaded} files, "
                "expected 2"
            )
        v1 = commit.table_versions(host, path)[-1]
        ev.where(F.col("event_id") % 90 == 0).coalesce(
            1
        ).write.parquet(f"{landing}/d3")
        st2 = sql(spark, f"COPY INTO `{path}` FROM '{landing}'").first()
        if (st2.num_files_loaded, st2.num_files_skipped) != (1, 2):
            raise AssertionError(
                "COPY run 2 must load exactly the new file and skip "
                f"the two already taken, got loaded="
                f"{st2.num_files_loaded} skipped={st2.num_files_skipped}"
            )
        clone = f"{base_dir}/c"
        sql(
            spark,
            f"CREATE TABLE `{clone}` CLONE `{path}` "
            f"VERSION AS OF {v1}",
        )
        sql(spark, f"DELETE FROM `{clone}` WHERE event_type = 'view'")
        out = sql(
            spark, f"SELECT 'src' AS side, * FROM `{path}`"
        ).unionAll(
            sql(spark, f"SELECT 'clone' AS side, * FROM `{clone}`")
        )
        return materialize(out, "lifecycle.clone_copy_lifecycle", eager=True)  # outlives the rmtree
    finally:
        _shutil.rmtree(base_dir, ignore_errors=True)


UNREGISTERED_ORACLES["clone_copy_lifecycle"] = (
    clone_copy_lifecycle, CLONE_COPY_ORACLE,
)
