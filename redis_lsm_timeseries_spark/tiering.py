"""Hot->cold tiering: the reference's purge pipeline (O8-O11).

Reference lifecycle (SURVEY.md §3.3): an atomic Lua script takes the K
coldest partitions from the RecentActivity ZSET, snapshots each to a
Redis stream and removes it from RecentActivity (mark-once,
``enqueue-purge.lua:1-28``); a consumer persists the snapshot to cold
storage; an ack script removes exactly the snapshotted members from the
hot partition, dropping the partition's index entry only when it
emptied (``ack-purge.lua:1-28``).

Re-expression — two idempotent maintenance steps + an append-only
``purge_log`` Parquet table as the protocol state:

- ``purge_scan``  coldness aggregate over hot -> snapshot each selected
  partition to the cold tier (partitioned by purge_id for exact-member
  ack) -> append a ``marked`` log row. "Removed from RecentActivity"
  becomes a predicate: a partition is eligible iff it was never marked
  or has been written since its last mark (the reference re-registers a
  marked partition on write, ``index.js:81``).
- ``purge_ack``   idempotency-gated anti-join delete: rewrite the hot
  partition as ``hot EXCEPT snapshot`` (exact member identity, so data
  written after the mark survives — ``test/consumer-test.js:936-989``),
  drop the directory when it empties, append an ``acked`` log row.

Where they run: each step decides once per call by ``read_range``'s
rule (``TimeseriesStore._driver_files``: a directory L1 with no
streaming-sink log, candidate files totalling at most
``MAX_DRIVER_READ_BYTES``, and, for the purge log and the cold
snapshots, a backend whose tables are plain directories —
``TableCommit.driver_table_files``). Work that passes is computed on
the driver with pyarrow and starts no Spark job; the rest is a Spark
job. Both paths give the same rows. A driver-side rewrite of a hot
partition publishes its new file first (hidden temp name, then
rename), then removes the files it replaces, then replaces
``hot/_SUCCESS``: a crash leaves old files beside the new one, which
read the same under LWW (``compact``) and under hot∪cold (the ack).

Semantics consciously fixed vs the reference (SURVEY.md §2.2.5): the
idle threshold is in SECONDS, one unit everywhere (the reference
divides a ms input by 1000 into a seconds comparison, making its
default 0).

Atomicity: the reference gets it from Redis single-threading; here
every transactional table operation routes through the store's
``TableCommit`` seam (``commit.py``): the namespace maintenance LEASE
(enforced — concurrent maintenance raises
``ConcurrentMaintenanceError``), the dynamic partition overwrite, the
protocol-log append, and the crash-repairable snapshot swap. The
driver path writes files itself only where the seam allows it: into
the hot tier, a plain directory layout under every backend, and into
the cold tier and purge log of a backend whose
``driver_table_files`` lists plain files. The default ``ParquetLeaseCommit`` implements them on plain Parquet; a
lakehouse deployment drops in a Delta/Iceberg implementation (MERGE /
DELETE / optimistic commit) without touching the logic here.
"""

from __future__ import annotations

import functools
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.commit import (
    _driver_arrow_schema,
    _driver_parquet_append,
    _driver_parquet_file,
)
from redis_lsm_timeseries_spark.config import PARTITION_COLS
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.schema import (
    COLD_SNAPSHOT_SCHEMA,
    MEMBER_IDENTITY_COLS,
    PURGE_LOG_SCHEMA,
    SAMPLE_SCHEMA,
)
from redis_lsm_timeseries_spark.store import (
    DATA_COLS,
    TimeseriesStore,
    driver_read_bytes,
    footer_max,
    partition_dir,
    partition_key,
    read_members,
)


@dataclass(frozen=True)
class PurgeMark:
    purge_id: str
    tag: str
    part_start: int
    n_rows: int


def _now_ms() -> int:
    return int(time.time() * 1000)


# Re-exported for callers/tests that import it from here.
from redis_lsm_timeseries_spark.commit import LEASE_FILE  # noqa: E402, F401


@contextmanager
def maintenance_lease(
    store: TimeseriesStore, ttl_s: float = 900.0, now_ms: int | None = None
):
    """Single-writer guard for the maintenance jobs — every
    maintenance entry point (``purge_scan``, ``purge_ack_many``,
    ``compact``, ``compact_purge_log``) acquires the namespace lock
    first, so two jobs racing the same namespace fail fast with
    ``ConcurrentMaintenanceError`` instead of corrupting a partition
    overwrite. Delegates to the store's ``TableCommit`` seam (the
    default ``ParquetLeaseCommit.maintenance_lock`` documents the
    lease-file protocol; a lakehouse implementation makes this a no-op
    and lets the table format's optimistic commit detect conflicts)."""
    with store.commit.maintenance_lock(store, ttl_s=ttl_s, now_ms=now_ms):
        yield


def _serialized_maintenance(fn):
    """Run a maintenance entry point under the namespace lease."""

    @functools.wraps(fn)
    def wrapper(store, *args, **kwargs):
        with maintenance_lease(store):
            return fn(store, *args, **kwargs)

    return wrapper


def purge_log(store: TimeseriesStore) -> DataFrame:
    """The append-only protocol table (the purge stream analog). Reads
    as empty only when never written; other read failures propagate.
    The snapshot resolution (including the Parquet backend's
    mid-compaction ``.compact-old`` fallback and the manifest backend's
    versioned file list) lives in ``TableCommit.read_table``."""
    store._require_init()
    return store.commit.read_table(
        store, store.config.purge_log_path, PURGE_LOG_SCHEMA
    )


def cold_snapshots(store: TimeseriesStore) -> DataFrame:
    """The cold tier WITH its purge-snapshot id — the raw eviction
    payloads (``enqueue-purge.lua:17-18``'s serialized partitions).
    ``store.cold()`` is this minus the id column."""
    store._require_init()
    return store.commit.read_table(
        store, store.config.cold_path, COLD_SNAPSHOT_SCHEMA
    )


def _append_log(store: TimeseriesStore, rows: list[tuple]) -> None:
    store.commit.repair_interrupted_rewrite(
        store, store.config.purge_log_path
    )
    store.commit.append_rows(
        store, rows, PURGE_LOG_SCHEMA, store.config.purge_log_path
    )


def _driver_table(store: TimeseriesStore, path: str, schema):
    """The protocol table at ``path`` read on the driver with pyarrow,
    or None when it needs Spark: the backend keeps no plain directory
    for it (``driver_table_files``), or its files are over
    ``MAX_DRIVER_READ_BYTES``."""
    import pyarrow.dataset as ds

    paths = store.commit.driver_table_files(store, path)
    if paths is None or driver_read_bytes(paths) is None:
        return None
    return ds.dataset(
        paths, schema=_driver_arrow_schema(schema), format="parquet"
    ).to_table()


def _columns(table, *names) -> list[list]:
    return [table[n].to_pylist() for n in names]


def _in_partitions(keys):
    """A pyarrow filter that keeps the rows of the ``(tag, part_start)``
    partitions ``keys``."""
    import pyarrow.dataset as ds

    pred = ds.scalar(False)
    for tag, part_start in keys:
        pred = pred | (
            (ds.field("tag") == tag) & (ds.field("part_start") == part_start)
        )
    return pred


def _replace_partition(store: TimeseriesStore, key, rows, old_paths) -> None:
    """Make ``rows`` the whole content of the hot partition ``key``:
    publish them as one new file (``_driver_parquet_append``), then
    remove the ``old_paths`` it replaces and their checksum sidecars;
    no rows drops the directory. The caller replaces ``hot/_SUCCESS``
    after its last partition."""
    part_dir = partition_dir(store.config.hot_path, *key)
    if rows.num_rows == 0:
        store.commit.drop_partition_dir(store, part_dir)
        return
    _driver_parquet_append(store.fs, rows.select(DATA_COLS), part_dir)
    for path in old_paths:
        head, name = path.rsplit("/", 1)
        store.fs.remove_file(path)
        store.fs.remove_file(f"{head}/.{name}.crc")


@_serialized_maintenance
def purge_scan(
    store: TimeseriesStore,
    partition_age_threshold_s: float = 300.0,
    max_partitions_to_mark: int = 10,
    now_ms: int | None = None,
    size_trigger_rows: int | None = None,
) -> list[PurgeMark]:
    """Mark up to K coldest idle partitions for eviction (reference
    ``purgeScan`` -> ``enqueue-purge.lua``). Returns the marks (the
    reference returns stream ids).

    ``size_trigger_rows`` is the memory-pressure analog the reference
    sketches but never implements (``write`` returning ``used_memory``
    as a back-pressure hint, ``index.js:91-93``; ``recipe:44-45``;
    SURVEY.md §4 P10): when set, a partition holding at least that many
    rows is eligible regardless of idle age, so hot-but-oversized
    partitions can be tiered out under pressure.

    Scale shape: on the driver (see the module docstring) the scan
    reads no L1 data: each partition's row count and ``max(ingest_ts)``
    come from its L1 Parquet footers plus a read of the L0 segments,
    the purge log is read with pyarrow, and each selected partition's
    members land as one snapshot file written with pyarrow — no Spark
    job. Otherwise: one partial-aggregated groupBy over the partition
    columns + ingest_ts (metadata-narrow scan), a broadcast-joined
    eligibility check against the tiny purge log, a global TakeOrdered
    of K rows, and one partition-pruned snapshot write over the marked
    partitions.
    """
    store._require_init()
    if max_partitions_to_mark < 1:
        raise ValidationError("max_partitions_to_mark must be >= 1")
    if partition_age_threshold_s < 0:
        raise ValidationError("partition_age_threshold_s must be >= 0")
    if size_trigger_rows is not None and size_trigger_rows < 1:
        raise ValidationError("size_trigger_rows must be >= 1")
    if now_ms is None:
        now_ms = _now_ms()
    eligibility = (
        now_ms, int(partition_age_threshold_s * 1000), size_trigger_rows
    )

    files = store._driver_files(None)
    log = None if files is None else _driver_table(
        store, store.config.purge_log_path, PURGE_LOG_SCHEMA
    )
    if log is None:
        selected = _coldest_on_spark(store, max_partitions_to_mark, *eligibility)
    else:
        selected = _coldest_on_driver(files, log, max_partitions_to_mark, *eligibility)
    if not selected:
        return []
    marks = [
        PurgeMark(
            purge_id=uuid.uuid4().hex[:16], tag=tag, part_start=part_start, n_rows=n
        )
        for tag, part_start, n in selected
    ]
    # Snapshot every selected partition's CURRENT members — the exact
    # sets the ack will remove (enqueue-purge.lua:17-18 serializes the
    # whole partition into the stream entry).
    if log is None:
        _snapshot_on_spark(store, marks)
    else:
        _snapshot_on_driver(store, files, marks)
    _append_log(
        store,
        [(m.purge_id, m.tag, m.part_start, "marked", now_ms, m.n_rows) for m in marks],
    )
    return marks


def _eligible(last_seen, n, last_marked, now_ms, threshold_ms, size_trigger_rows) -> bool:
    """A partition is "in RecentActivity" iff never marked or written
    after its last mark (index.js:81); it is eligible when also idle
    past the threshold or, with a size trigger, oversized."""
    idle_or_oversized = now_ms - last_seen >= threshold_ms or (
        size_trigger_rows is not None and n >= size_trigger_rows
    )
    return (last_marked is None or last_seen > last_marked) and idle_or_oversized


def _coldest_on_driver(files, log, k, now_ms, threshold_ms, size_trigger_rows):
    """``(tag, part_start, n_rows)`` of the K coldest eligible
    partitions, by ``(last_seen, tag, part_start)``."""
    last_marked: dict[tuple, int] = {}
    for tag, part_start, status, event_ts in zip(
        *_columns(log, "tag", "part_start", "status", "event_ts")
    ):
        if status == "marked":
            key = (tag, part_start)
            last_marked[key] = max(last_marked.get(key, event_ts), event_ts)
    eligible = sorted(
        (last_seen, tag, part_start, n)
        for (tag, part_start), (last_seen, n) in _partition_activity(files).items()
        if _eligible(
            last_seen, n, last_marked.get((tag, part_start)),
            now_ms, threshold_ms, size_trigger_rows,
        )
    )
    return [(tag, part_start, n) for _, tag, part_start, n in eligible[:k]]


def _partition_activity(files) -> dict[tuple, tuple[int, int]]:
    """``{(tag, part_start): (max(ingest_ts), rows)}`` over the listed
    hot files: an L1 file's from its Parquet footer (row count and the
    column statistics, or a read of the one column when a row group
    has none), the L0 segments' from a read."""
    activity: dict[tuple, tuple[int, int]] = {}

    def add(key, last_seen, n):
        if key in activity:
            seen, rows = activity[key]
            last_seen, n = max(seen, last_seen), rows + n
        activity[key] = (last_seen, n)

    for key, paths in files.l1().items():
        for path in paths:
            n, last_seen = footer_max(path)
            if n:
                add(key, last_seen, n)
    segments = [p for p, key in zip(files.paths, files.partitions) if key is None]
    if segments:
        per_part = read_members(segments, [None] * len(segments)).group_by(
            ["tag", "part_start"]
        ).aggregate([("ingest_ts", "max"), ("ingest_ts", "count")])
        for tag, part_start, last_seen, n in zip(
            *_columns(per_part, "tag", "part_start", "ingest_ts_max", "ingest_ts_count")
        ):
            add((tag, part_start), last_seen, n)
    return activity


def _coldest_on_spark(store, k, now_ms, threshold_ms, size_trigger_rows):
    """``_coldest_on_driver`` as one Spark query over ``hot()`` and the
    purge log."""
    activity = store.hot().groupBy("tag", "part_start").agg(
        F.max("ingest_ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n"),
    )
    last_marks = (
        purge_log(store)
        .where(F.col("status") == "marked")
        .groupBy("tag", "part_start")
        .agg(F.max("event_ts").alias("last_marked"))
    )
    idle_or_oversized = (
        F.lit(now_ms) - F.col("last_seen")
    ) >= F.lit(threshold_ms)
    if size_trigger_rows is not None:
        idle_or_oversized = idle_or_oversized | (
            F.col("n") >= F.lit(size_trigger_rows)
        )
    eligible = (
        activity.join(F.broadcast(last_marks), ["tag", "part_start"], "left")
        .where(
            (F.col("last_marked").isNull() | (F.col("last_seen") > F.col("last_marked")))
            & idle_or_oversized
        )
        .orderBy(F.col("last_seen").asc(), F.col("tag").asc(), F.col("part_start").asc())
        .limit(k)
    )
    return [(r.tag, r.part_start, r.n) for r in eligible.collect()]


def _snapshot_on_driver(store, files, marks) -> None:
    """Write each mark's members as one file into
    ``cold/purge_id=/tag=/part_start=``."""
    members = files.read(_in_partitions({(m.tag, m.part_start) for m in marks}))
    for m in marks:
        rows = members.filter(_in_partitions([(m.tag, m.part_start)]))
        _driver_parquet_append(
            store.fs,
            rows.select(DATA_COLS),
            partition_dir(
                f"{store.config.cold_path}/purge_id={m.purge_id}", m.tag, m.part_start
            ),
        )


def _snapshot_on_spark(store, marks) -> None:
    """All marks' snapshots in ONE write job. The mark list is <= K
    rows, so the id assignment is a broadcast join; the hot scan is
    partition-pruned to the marked partitions."""
    mark_df = store.spark.createDataFrame(
        store.spark.sparkContext.parallelize(
            [(m.purge_id, m.tag, m.part_start) for m in marks], 1
        ),
        "purge_id string, tag string, part_start long",
    )
    snap = store.hot().join(F.broadcast(mark_df), ["tag", "part_start"])
    store.commit.append_partitioned(
        store,
        snap.select(
            "purge_id", *[f.name for f in SAMPLE_SCHEMA.fields]
        ).repartition("purge_id"),
        store.config.cold_path,
        ["purge_id", "tag", "part_start"],
    )


def purge_ack(
    store: TimeseriesStore, purge_id: str, now_ms: int | None = None
) -> bool:
    """Commit one eviction (reference ``purgeAck`` -> ``ack-purge.lua``).
    See ``purge_ack_many`` for semantics; this is the single-id form
    matching the reference API."""
    return purge_ack_many(store, [purge_id], now_ms=now_ms)[purge_id]


@_serialized_maintenance
def purge_ack_many(
    store: TimeseriesStore,
    purge_ids: list[str],
    now_ms: int | None = None,
    max_ids: int = 1000,
) -> dict[str, bool]:
    """Commit a batch of evictions in ONE delete step: remove exactly
    the snapshotted members from the hot partitions.

    Idempotent per id: maps to False if the purge id is unknown or
    already acked (``ack-purge.lua:7-8, 27``). Members written after
    the mark survive (``test/consumer-test.js:936-989``) because the
    delete is hot EXCEPT snapshot on full member identity, not a
    partition drop; the identity is null-safe, so a tombstone (a NULL
    value) matches its snapshot. Hot partition directories are removed
    when they empty — the analog of dropping the tag-index entry for a
    vanished partition (``ack-purge.lua:21-23``).

    The reference acks one stream entry per Lua call; batching N acks
    into one step is the engine-level equivalent of its consumer loop.
    Scale shape: on the driver (see the module docstring) the log and
    the snapshots are read with pyarrow, the EXCEPT is an Arrow
    anti-join, and each partition that lost members is rewritten as
    one file — no Spark job. Otherwise: one partition-pruned anti-join
    + one dynamic-partition overwrite. On a lakehouse table this whole
    function is one Delta ``MERGE ... WHEN MATCHED DELETE``."""
    store._require_init()
    # the ack rewrites hot partitions — refuse under a file-sink-managed
    # L1 (see _require_l1_batch_writable)
    store._require_l1_batch_writable()
    if now_ms is None:
        now_ms = _now_ms()
    result = {pid: False for pid in purge_ids}
    # Dedupe while preserving order: a repeated id must ack (and log)
    # once, not write two 'acked' rows for one eviction.
    purge_ids = list(dict.fromkeys(purge_ids))
    # Bound the driver-side state like purge_scan's K bounds marks: the
    # ack map, the delete predicate, and the log states below are all
    # O(len(purge_ids)), so an unbounded request list is the one way
    # this step's driver memory scales with caller behavior.
    if len(purge_ids) > max_ids:
        raise ValueError(
            f"purge_ack_many: {len(purge_ids)} ids exceeds max_ids="
            f"{max_ids}; ack in batches (each batch is one delete step)"
        )

    states, marks = _log_states(store, purge_ids)
    valid = [
        pid
        for pid in purge_ids
        if "marked" in states.get(pid, set()) and "acked" not in states[pid]
    ]
    if not valid:
        return result

    # Fold any L0 row-batch segments into the partitioned layout first:
    # the delete below rewrites L1 partition directories, and rows still
    # sitting in L0 (including writes made after the mark, which must
    # survive) have to be in those directories to be rewritten or kept.
    store.flush_l0()
    affected = {(marks[pid][0], marks[pid][1]) for pid in valid}
    if not _evict_on_driver(store, valid, marks, affected):
        _evict_on_spark(store, valid, affected)
    store.invalidate_hot_cache()
    _append_log(
        store,
        [
            (pid, marks[pid][0], marks[pid][1], "acked", now_ms, marks[pid][2])
            for pid in valid
        ],
    )
    for pid in valid:
        result[pid] = True
    return result


def _log_states(store, purge_ids):
    """``(states, marks)`` of the requested ids: each id's set of log
    statuses, and its mark's ``(tag, part_start, n_rows)`` (the
    greatest, should the append-only log hold several)."""
    states: dict[str, set] = {}
    marks: dict[str, tuple] = {}
    log = _driver_table(store, store.config.purge_log_path, PURGE_LOG_SCHEMA)
    if log is not None:
        wanted = set(purge_ids)
        for pid, tag, part_start, status, n in zip(
            *_columns(log, "purge_id", "tag", "part_start", "status", "n_rows")
        ):
            if pid in wanted:
                states.setdefault(pid, set()).add(status)
                if status == "marked":
                    marks[pid] = max(marks.get(pid, (tag, part_start, n)), (tag, part_start, n))
        return states, marks
    # Aggregate the log BEFORE collecting: one row per requested id
    # regardless of log size, so a bloated log (many files / repeated
    # appends between compactions) cannot grow the collect past
    # len(purge_ids) rows.
    agg = (
        purge_log(store)
        .where(F.col("purge_id").isin(list(purge_ids)))
        .groupBy("purge_id")
        .agg(
            F.collect_set("status").alias("statuses"),
            F.max(
                F.when(
                    F.col("status") == "marked",
                    F.struct("tag", "part_start", "n_rows"),
                )
            ).alias("mark"),
        )
    )
    for r in agg.collect():
        states[r.purge_id] = set(r.statuses)
        if r.mark is not None:
            marks[r.purge_id] = (r.mark.tag, r.mark.part_start, r.mark.n_rows)
    return states, marks


def _evict_on_driver(store, valid, marks, affected) -> bool:
    """Rewrite each affected L1 partition as hot EXCEPT its snapshots,
    on the driver. False, having changed nothing, when the snapshots
    or the partitions need Spark."""
    snap_paths, snap_keys = [], []
    for pid in valid:
        tag, part_start, _ = marks[pid]
        paths = store.commit.driver_table_files(
            store,
            partition_dir(f"{store.config.cold_path}/purge_id={pid}", tag, part_start),
        )
        if paths is None:
            return False
        snap_paths += paths
        snap_keys += [(tag, part_start)] * len(paths)
    if driver_read_bytes(snap_paths) is None:
        return False
    got = store._driver_members(affected, unflushed=False)
    if got is None:
        return False
    files, hot = got
    remainder = _except_members(hot, read_members(snap_paths, snap_keys))
    l1 = files.l1()
    for key in sorted(affected):
        part = _in_partitions([key])
        rows = remainder.filter(part)
        # an emptied partition is dropped even when a crashed ack
        # already removed its rows: its emptied tag= directory goes too
        if rows.num_rows == 0 or rows.num_rows < hot.filter(part).num_rows:
            _replace_partition(store, key, rows, l1.get(key, []))
    store._mark_l1_changed()
    return True


def _except_members(hot, snapshot):
    """``hot``'s rows whose member identity (``MEMBER_IDENTITY_COLS``)
    no ``snapshot`` row has. Null-safe: a NULL value (a tombstone)
    matches a NULL value, where the join's own key equality would
    not."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def keyed(table):
        cols = {c: table[c] for c in MEMBER_IDENTITY_COLS if c != "value"}
        cols["value"] = pc.fill_null(table["value"], "")
        cols["value_is_null"] = pc.is_null(table["value"])
        return pa.table(cols)

    left = keyed(hot)
    keys = left.column_names
    left = left.append_column("row", pa.array(range(hot.num_rows), pa.int64()))
    kept = left.join(keyed(snapshot), keys=keys, join_type="left anti")["row"]
    return hot.take(kept.combine_chunks().sort())


def _evict_on_spark(store, valid, affected) -> None:
    """``_evict_on_driver`` as one partition-pruned anti-join and one
    dynamic-partition overwrite."""
    from functools import reduce

    snapshot = F.broadcast(
        cold_snapshots(store)
        .where(F.col("purge_id").isin(valid))
        .select(*MEMBER_IDENTITY_COLS)
    )
    part_pred = F.lit(False)
    for tag, part_start in affected:
        part_pred = part_pred | (
            (F.col("tag") == tag) & (F.col("part_start") == part_start)
        )
    hot = store.hot().where(part_pred)
    same_member = reduce(
        lambda a, b: a & b,
        [hot[c].eqNullSafe(snapshot[c]) for c in MEMBER_IDENTITY_COLS],
    )
    remainder = hot.join(snapshot, on=same_member, how="left_anti")
    # Materialize before overwriting the directories we just read
    # (Spark refuses / corrupts a self-overwrite otherwise). LAZY
    # checkpoint: the nonempty-partition collect right below is the
    # materializing action (r18, guide §1.2 — the r17 components
    # pattern), so the ack pays one job here instead of two; the
    # overwrite still reads materialized rows.
    remaining = remainder.select(
        *[f.name for f in SAMPLE_SCHEMA.fields]
    ).localCheckpoint(eager=False)
    nonempty = {
        (r.tag, r.part_start)
        for r in remaining.select("tag", "part_start").distinct().collect()
    }
    for tag, part_start in affected - nonempty:
        # Partition fully evicted: dynamic overwrite rewrites only
        # partitions present in the output, so drop emptied ones here.
        store.commit.drop_partition_dir(
            store, partition_dir(store.config.hot_path, tag, part_start)
        )
    if nonempty:
        # Only the acked partitions' directories are replaced — see
        # ParquetLeaseCommit.overwrite_partitions for the per-write
        # dynamic-overwrite requirement.
        store.commit.overwrite_partitions(
            store, remaining, store.config.hot_path, PARTITION_COLS,
        )
    # a drop inside a tag= directory that stays changes nothing the
    # other instances' layout tokens watch but the marker
    store._mark_l1_changed()


@_serialized_maintenance
def compact_purge_log(store: TimeseriesStore) -> int:
    """Snapshot the append-only purge log into a single file.

    Every ``purge_scan``/``purge_ack`` appends one small parquet file
    (one commit each, like the reference's one stream entry per Lua
    call), so after N maintenance cycles the log directory holds N
    files and every protocol read pays N file opens. The log is
    protocol metadata — two rows per eviction — so the whole table
    rewrites into one file; run via ``compact()``, the same maintenance
    job that does LWW segment hygiene. The file is written on the
    driver with pyarrow when the log passes the driver rule (see the
    module docstring), else by a Spark job.

    Swap order keeps a full copy on disk at every instant (the
    single-writer caveat in the module docstring applies — this is the
    maintenance job, not a concurrent writer): write the snapshot to a
    temp dir, rename live -> ``.compact-old``, rename temp -> live,
    delete old. ``purge_log`` falls back to ``.compact-old`` if a crash
    lands between the renames. Returns the number of data files
    replaced (0 = nothing to do)."""
    store._require_init()
    path = store.config.purge_log_path
    store.commit.repair_interrupted_rewrite(store, path)
    if not store.commit.table_exists(store, path):
        return 0
    n_files = store.commit.table_file_count(store, path)
    if n_files <= 1:
        return 0
    log = _driver_table(store, path, PURGE_LOG_SCHEMA)

    def write_snapshot(tmp: str) -> None:
        if log is not None:
            # _SUCCESS last: repair_interrupted_rewrite rolls a swap
            # forward only onto a complete snapshot
            store.fs.makedirs(tmp)
            _driver_parquet_file(log, f"{tmp}/part-{uuid.uuid4().hex}.snappy.parquet")
            store.fs.write_text(f"{tmp}/_SUCCESS", "")
            return
        # Seam-routed read: the CURRENT committed snapshot regardless
        # of backend (directory vs manifest file list).
        (
            purge_log(store)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    store.commit.snapshot_rewrite(store, path, write_snapshot)
    return n_files


def _vacuum_locked(store: TimeseriesStore) -> dict:
    """Collect unreferenced physical files across every seam-managed
    table (purge log, cold snapshots, rollup stores). Deferred-delete
    backends (ManifestCommit) reclaim here; the directory backend's
    inherited no-op returns 0 everywhere. Caller holds the lease."""
    roots = [store.config.purge_log_path, store.config.cold_path]
    rollups_dir = f"{store.config.base_path}/rollups"
    if store.fs.exists(rollups_dir):
        roots.extend(
            f"{rollups_dir}/{name}/data"
            for name in store.fs.listdir(rollups_dir)
        )
    return {root: store.commit.vacuum(store, root) for root in roots}


@dataclass(frozen=True)
class CompactionMetrics:
    partitions_compacted: int
    rows_before: int
    rows_after: int


@_serialized_maintenance
def compact(
    store: TimeseriesStore, max_partitions: int | None = None
) -> CompactionMetrics:
    """LWW compaction: rewrite hot partitions that contain superseded
    members, keeping only each (tag, ts) key's LWW winner.

    The reference sketches exactly this as an open TODO
    (``recipe:43`` — "keep only the latest" when merging duplicate
    scores); reads are correct without it (the LWW merge runs at read
    time), so compaction is purely a storage/scan-cost maintenance job,
    like an LSM segment merge.

    ``max_partitions`` bounds one run to the K partitions carrying the
    most superseded rows (like ``purge_scan``'s coldest-K); the rest
    compact on later runs. Tombstones (NULL-value winners) are KEPT:
    they still shadow older members in the cold tier on
    hot-union-cold reads.

    Scale shape: on the driver (see the module docstring) the L1
    members are read with pyarrow, ``lww_latest_arrow`` picks the
    winners, and each dirty partition is rewritten as one file — no
    Spark job. Otherwise: one partial-aggregated duplicate-detection
    pass over (tag, part_start, ts); the rewrite then touches ONLY
    partitions that actually hold duplicates, selected via a broadcast
    semi-join on a small (tag, part_start) keys DataFrame — never a
    literal per-partition predicate, so neither the plan nor driver
    memory grows with the number of dirty partitions.
    """
    store._require_init()
    store._require_l1_batch_writable()
    # Fold L0 row-batch segments into the partitioned layout first —
    # compaction IS the file-count hygiene for the chatty write() path,
    # and the duplicate rewrite below operates on L1 directories.
    store.flush_l0()
    # Same hygiene for the protocol table: one file per mark/ack append
    # otherwise accrues forever.
    compact_purge_log(store)
    # Under a manifest backend, rollup overwrites and retention drops
    # are manifest edits with deferred physical deletes — compaction
    # is the maintenance job that collects the orphans (no-op on the
    # directory backend, which deletes eagerly).
    _vacuum_locked(store)
    got = store._driver_members(None, unflushed=False)
    if got is None:
        metrics = _compact_on_spark(store, max_partitions)
    else:
        metrics = _compact_on_driver(store, *got, max_partitions)
    store.invalidate_hot_cache()
    return metrics


def _compact_on_driver(store, files, members, max_partitions) -> CompactionMetrics:
    """Keep each key's winner (``lww_latest_arrow``) in every dirty
    partition — one holding more rows than keys — or in the
    ``max_partitions`` dirtiest."""
    import itertools

    from redis_lsm_timeseries_spark.operators.lww import lww_latest_arrow

    rows = {
        (tag, part_start): n
        for tag, part_start, n in zip(
            *_columns(
                members.group_by(["tag", "part_start"]).aggregate([("ts", "count")]),
                "tag", "part_start", "ts_count",
            )
        )
    }
    # sorted so that each partition's winners are one run
    winners = lww_latest_arrow(members).sort_by(
        [("tag", "ascending"), ("part_start", "ascending"), ("ts", "ascending")]
    )
    runs, offset = {}, 0
    for key, run in itertools.groupby(zip(*_columns(winners, "tag", "part_start"))):
        n = sum(1 for _ in run)
        runs[key] = (offset, n)
        offset += n
    dirty = sorted(
        (key for key in rows if rows[key] > runs[key][1]),
        key=lambda k: (runs[k][1] - rows[k], k),
    )
    if max_partitions is not None:
        dirty = dirty[:max_partitions]
    if not dirty:
        return CompactionMetrics(0, 0, 0)
    l1 = files.l1()
    for key in dirty:
        _replace_partition(store, key, winners.slice(*runs[key]), l1[key])
    store._mark_l1_changed()
    return CompactionMetrics(
        partitions_compacted=len(dirty),
        rows_before=sum(rows[k] for k in dirty),
        rows_after=sum(runs[k][1] for k in dirty),
    )


def _compact_on_spark(store, max_partitions) -> CompactionMetrics:
    """``_compact_on_driver`` as Spark jobs over ``hot()``."""
    from redis_lsm_timeseries_spark.operators.lww import lww_latest

    hot = store.hot()
    # One pass detects dup-holding partitions AND their row/key counts
    # (rows_before, dup excess) — a separate count() of the target
    # partitions would re-scan them.
    part_stats = (
        hot.groupBy("tag", "part_start", "ts")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("tag", "part_start")
        .agg(
            F.sum("n").alias("rows"),
            F.count(F.lit(1)).alias("keys"),
            F.max("n").alias("max_n"),
        )
        .where(F.col("max_n") > 1)
    )
    if max_partitions is not None:
        part_stats = (
            part_stats.orderBy(
                (F.col("rows") - F.col("keys")).desc(), "tag", "part_start"
            )
            .limit(max_partitions)
        )
    # Materialize once: at most K (or #dirty-partition) tiny rows —
    # reused for the semi-join keys AND the metrics aggregate. LAZY:
    # the totals aggregate right below doubles as the materializing
    # action (r18, guide §1.2 — one job, not two).
    part_stats = part_stats.localCheckpoint(eager=False)
    totals = part_stats.agg(
        F.count(F.lit(1)).alias("parts"), F.sum("rows").alias("rows")
    ).first()
    if totals.parts == 0:
        return CompactionMetrics(0, 0, 0)
    target = hot.join(
        F.broadcast(part_stats.select("tag", "part_start")),
        ["tag", "part_start"],
        "left_semi",
    )
    winners = (
        lww_latest(target)
        .select(*[f.name for f in SAMPLE_SCHEMA.fields])
        .repartition("tag", "part_start")
        # lazy: the rows_after count below materializes it (the
        # checkpoint itself stays mandatory — the overwrite replaces
        # the directories this plan reads)
        .localCheckpoint(eager=False)
    )
    rows_after = winners.count()
    store.commit.overwrite_partitions(
        store, winners, store.config.hot_path, PARTITION_COLS,
    )
    return CompactionMetrics(
        partitions_compacted=totals.parts,
        rows_before=totals.rows,
        rows_after=rows_after,
    )


def purge_payload(store: TimeseriesStore, purge_id: str) -> DataFrame:
    """Decode a purge snapshot back into samples (reference
    ``parsePurgePayload``, ``index.js:350-355``), LWW-merged the same
    way a read would be (O6)."""
    from redis_lsm_timeseries_spark.operators.lww import lww_latest

    store._require_init()
    snap = (
        cold_snapshots(store)
        .where(F.col("purge_id") == purge_id)
        .select(*[f.name for f in SAMPLE_SCHEMA.fields])
    )
    return lww_latest(snap).select("tag", "ts", "value")


@dataclass(frozen=True)
class RetentionMetrics:
    partitions_dropped: int
    rows_dropped: int


@_serialized_maintenance
def apply_retention(
    store: TimeseriesStore,
    older_than_ms: int,
    drop_cold: bool = False,
    max_partitions: int = 10_000,
) -> RetentionMetrics:
    """Retention sweep (the TimescaleDB ``drop_chunks`` analog, and
    the hard-delete the reference sketches but never implements —
    ``recipe:22-23``): drop every HOT partition that lies ENTIRELY
    before the cutoff — ``part_start + W <= older_than_ms`` — as a
    whole-directory delete. A partition straddling the cutoff is
    KEPT in full: retention is partition-granular (chunk-granular in
    Timescale terms), never a row rewrite, so the sweep costs the
    doomed-partition lookup plus directory removals regardless of data
    volume. On the driver (see the module docstring) the lookup reads
    the hot listing and its Parquet footers (``_partition_activity``)
    and the cold snapshots' ``purge_id=/tag=/part_start=`` directory
    names, and starts no Spark job; otherwise it is one metadata-narrow
    aggregate per tier.

    ``drop_cold=True`` extends the sweep to cold-tier snapshots whose
    partition lies before the cutoff (the archive is otherwise
    retained — tiering is not deletion). L0 is folded first so no
    pre-cutoff rows survive in the staging tier.

    Idempotent (a second sweep finds nothing) and serialized by the
    maintenance lease like every other mutation job. Interplay with
    the purge protocol: a marked-but-unacked partition that retention
    removes simply acks to an empty remainder later — the ack's
    anti-join sees no matching hot rows and the idempotency gate
    still records it.

    ``max_partitions`` bounds one run's driver-side state (the
    collected drop list), like ``purge_scan``'s coldest-K and
    ``compact``'s cap — oldest partitions drop first, the rest on
    later runs."""
    store._require_init()
    if older_than_ms < 0:
        raise ValidationError("older_than_ms must be >= 0")
    if max_partitions < 1:
        raise ValidationError("max_partitions must be >= 1")
    store._require_l1_batch_writable()
    w = store.config.partition_width
    store.flush_l0()

    def expired(part_start) -> bool:
        return part_start + w <= older_than_ms

    # one path for both tiers: the driver when the hot files pass the
    # rule and the cold snapshots are plain files (only their names are
    # read), else Spark
    files = store._driver_files(None)
    cold_paths = (
        store.commit.driver_table_files(store, store.config.cold_path) if drop_cold else []
    )
    on_driver = files is not None and cold_paths is not None
    if not on_driver:
        doomed = _doomed_on_spark(store, older_than_ms, max_partitions)
    else:
        doomed = sorted(
            (part_start, tag, n)
            for (tag, part_start), (_, n) in _partition_activity(files).items()
            if expired(part_start)
        )[:max_partitions]
    for part_start, tag, _ in doomed:
        store.commit.drop_partition_dir(
            store, partition_dir(store.config.hot_path, tag, part_start)
        )
    if doomed:
        # other instances' cached hot() handles see the drops by the
        # marker (see _evict_on_spark)
        store._mark_l1_changed()
        store.invalidate_hot_cache()
    if drop_cold:
        if not on_driver:
            cold_doomed = _cold_doomed_on_spark(store, older_than_ms)
        else:
            # each snapshot file's directory names key it
            part_dirs = {path.rsplit("/", 1)[0] for path in cold_paths}
            cold_doomed = sorted(
                (d.rsplit("/", 3)[1].partition("=")[2], *partition_key(d))
                for d in part_dirs
                if expired(partition_key(d)[1])
            )
        for purge_id, tag, part_start in cold_doomed:
            store.commit.drop_partition_dir(
                store,
                partition_dir(f"{store.config.cold_path}/purge_id={purge_id}", tag, part_start),
            )
    return RetentionMetrics(len(doomed), sum(n for _, _, n in doomed))


def _doomed_on_spark(store, older_than_ms, max_partitions) -> list[tuple]:
    """``(part_start, tag, rows)`` of the oldest ``max_partitions`` hot
    partitions lying wholly before ``older_than_ms``, from one Spark
    aggregate over ``hot()``."""
    w = store.config.partition_width
    return [
        (r.part_start, r.tag, r.n)
        for r in store.hot()
        .where(F.col("part_start") + F.lit(w) <= F.lit(int(older_than_ms)))
        .groupBy("tag", "part_start")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("part_start", "tag")
        .limit(int(max_partitions))
        .collect()
    ]


def _cold_doomed_on_spark(store, older_than_ms) -> list[tuple]:
    """``(purge_id, tag, part_start)`` of the cold snapshot partitions
    lying wholly before ``older_than_ms``, from one Spark query."""
    w = store.config.partition_width
    return [
        (r.purge_id, r.tag, r.part_start)
        for r in cold_snapshots(store)
        .where(F.col("part_start") + F.lit(w) <= F.lit(int(older_than_ms)))
        .select("purge_id", "tag", "part_start")
        .distinct()
        .collect()
    ]
