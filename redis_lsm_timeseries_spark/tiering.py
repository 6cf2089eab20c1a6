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

Where they run: the store's size only batches a step's work, and the
commit backend only picks how the purge log and the cold snapshots are
read and written (``_read_table``, ``_write_snapshots``: pyarrow over
the plain files ``TableCommit.driver_table_files`` lists, else the
seam). Metadata decisions (coldest-K, retention's lookups) read
footers and directory names on the driver at any size; the snapshot
and the eviction run on the driver a batch of whole partitions at a
time (``DriverFiles.batches``); ``compact``'s kernel runs in-process
for one batch, else in a Spark task per batch. A rewrite of a hot
partition publishes its new file first (hidden temp name, then rename,
both on the driver through ``store.fs``), then removes the files it
replaces, then replaces ``hot/_SUCCESS``: a crash leaves old files
beside the new one, which read the same under LWW (``compact``) and
under hot∪cold (the ack).

Semantics consciously fixed vs the reference (SURVEY.md §2.2.5): the
idle threshold is in SECONDS, one unit everywhere (the reference
divides a ms input by 1000 into a seconds comparison, making its
default 0).

Atomicity: the reference gets it from Redis single-threading; here
every transactional table operation routes through the store's
``TableCommit`` seam (``commit.py``): the namespace maintenance LEASE
(enforced — concurrent maintenance raises
``ConcurrentMaintenanceError``), the protocol-log append, partition
drops, and the crash-repairable snapshot swap. Tiering writes files
itself only where the seam allows it: into the hot tier, a plain
directory layout under every backend, and into the cold tier and purge
log of a backend whose ``driver_table_files`` lists plain files. The
default ``ParquetLeaseCommit`` implements them on plain Parquet; a
lakehouse deployment drops in a Delta/Iceberg implementation (MERGE /
DELETE / optimistic commit) without touching the logic here.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.commit import (
    _driver_arrow_schema,
    _driver_parquet_append,
    _driver_parquet_file,
    _inprogress_path,
    _published_path,
)
from redis_lsm_timeseries_spark.config import PARTITION_COLS
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.lww import lww_latest_arrow
from redis_lsm_timeseries_spark.schema import (
    COLD_SNAPSHOT_SCHEMA,
    MEMBER_IDENTITY_COLS,
    PURGE_LOG_SCHEMA,
    SAMPLE_SCHEMA,
)
from redis_lsm_timeseries_spark.session import local_frame
from redis_lsm_timeseries_spark.store import (
    DATA_COLS,
    RANGE_RESULT_SCHEMA,
    TimeseriesStore,
    footer_max,
    partition_dir,
    partition_key,
    read_members,
)

#: the cold tier's hive directory columns: a snapshot file stores none
#: of them
SNAPSHOT_DIRS = ("purge_id", *PARTITION_COLS)


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
    rewrite. Delegates to the store's ``TableCommit`` seam (the
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


def _where(field, where):
    """The conjunction of the ``(column, op, value)`` terms ``where``
    (op ``==``, ``<=`` or ``in``) over ``field`` — ``pyarrow.dataset.
    field`` or ``pyspark.sql.functions.col`` — or None for no terms."""
    pred = None
    for name, op, value in where:
        col = field(name)
        if op == "in":
            term = col.isin(list(value))
        elif op == "==":
            term = col == value
        else:
            term = col <= value
        pred = term if pred is None else pred & term
    return pred


def _read_table(store: TimeseriesStore, path: str, schema, columns, where=()):
    """``columns`` of the purge log's or the cold tier's rows that pass
    ``where`` (``_where``), as an Arrow ``RecordBatchReader``: pyarrow
    over the plain files ``driver_table_files`` lists, the filter
    pushed down, else the seam's ``read_table`` in a Spark job. A cold
    file takes ``SNAPSHOT_DIRS`` from its directory names: a
    ``purge_id`` term lists only those directories, and a read of
    directory columns alone opens no file and returns distinct rows."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyarrow import fs as pafs

    arrow = _driver_arrow_schema(schema)
    out = pa.schema([arrow.field(c) for c in columns])
    cold = path == store.config.cold_path
    names_only = cold and set(columns) <= set(SNAPSHOT_DIRS)
    dirs = [path]
    for name, op, value in where:
        if cold and name == "purge_id" and op != "<=":
            dirs = [f"{path}/purge_id={pid}" for pid in ([value] if op == "==" else value)]
    listed = [store.commit.driver_table_files(store, d) for d in dirs]
    if None in listed:
        df = store.commit.read_table(store, path, schema)
        pred = _where(F.col, where)
        df = (df if pred is None else df.where(pred)).select(*columns)
        return (df.distinct() if names_only else df).toArrow().cast(out).to_reader()
    files = [f for paths in listed for f in paths]
    pred = _where(ds.field, where)
    if names_only:
        keys = pa.Table.from_pylist(
            [dict(zip(SNAPSHOT_DIRS, k)) for k in {_snapshot_key(f) for f in files}],
            schema=pa.schema([arrow.field(c) for c in SNAPSHOT_DIRS]),
        )
        keys = keys if pred is None else keys.filter(pred)
        return keys.group_by(columns).aggregate([]).select(columns).to_reader()
    parts = [ds.scalar(True)] * len(files)
    if cold:
        parts = [
            (ds.field("purge_id") == pid) & (ds.field("tag") == tag)
            & (ds.field("part_start") == part_start)
            for pid, tag, part_start in map(_snapshot_key, files)
        ]
    dataset = ds.FileSystemDataset.from_paths(
        files, schema=arrow, format=ds.ParquetFileFormat(),
        filesystem=pafs.LocalFileSystem(), partitions=parts,
    )
    return dataset.scanner(columns=columns, filter=pred).to_reader()


def _snapshot_key(path: str) -> tuple[str, str, int]:
    """The ``SNAPSHOT_DIRS`` values that a cold snapshot file's
    directory names give it."""
    part_dir = path.rsplit("/", 1)[0]
    return (part_dir.rsplit("/", 3)[1].partition("=")[2], *partition_key(part_dir))


def _write_snapshots(store: TimeseriesStore, members, marks) -> None:
    """The cold-tier writer: each mark's members — the rows of its
    partition in the Arrow table ``members`` — into
    ``cold/purge_id=/tag=/part_start=``. On a backend that keeps the
    tier as plain files, one file per mark (``_driver_parquet_append``);
    otherwise one ``append_partitioned`` through the seam."""
    import pyarrow as pa

    cold = store.config.cold_path
    rows = [members.filter(_in_partitions([(m.tag, m.part_start)])) for m in marks]
    dirs = [partition_dir(f"{cold}/purge_id={m.purge_id}", m.tag, m.part_start) for m in marks]
    # a new mark's directory holds no file a plain backend lists
    if store.commit.driver_table_files(store, dirs[0]) is not None:
        for part, d in zip(rows, dirs):
            _driver_parquet_append(store.fs, part.select(DATA_COLS), d)
        return
    # one chunk: createDataFrame drops the record batches after an
    # empty one, which an expression filter can leave
    snap = pa.concat_tables(
        part.add_column(0, "purge_id", pa.array([m.purge_id] * part.num_rows, pa.string()))
        for m, part in zip(marks, rows)
    ).combine_chunks()
    store.commit.append_partitioned(
        store, store.spark.createDataFrame(snap).coalesce(1), cold, list(SNAPSHOT_DIRS)
    )


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


def _remove_files(store: TimeseriesStore, paths) -> None:
    """Remove the data files ``paths`` and their checksum sidecars."""
    for path in paths:
        head, name = path.rsplit("/", 1)
        store.fs.remove_file(path)
        store.fs.remove_file(f"{head}/.{name}.crc")


def _replace_partition(store: TimeseriesStore, key, rows, old_paths) -> None:
    """Make ``rows`` the whole content of the hot partition ``key``:
    publish them as one new file (``_driver_parquet_append``), then
    remove the ``old_paths`` it replaces (``_remove_files``); no rows
    drops the directory. The caller replaces ``hot/_SUCCESS`` after
    its last partition."""
    part_dir = partition_dir(store.config.hot_path, *key)
    if rows.num_rows == 0:
        store.commit.drop_partition_dir(store, part_dir)
        return
    _driver_parquet_append(store.fs, rows.select(DATA_COLS), part_dir)
    _remove_files(store, old_paths)


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

    Scale shape (see the module docstring): the selection reads L1
    footers, three L0 columns and the log's ``marked`` rows; the
    marked partitions' members are read a batch at a time.
    """
    store._require_init()
    if max_partitions_to_mark < 1:
        raise ValidationError("max_partitions_to_mark must be >= 1")
    if partition_age_threshold_s < 0:
        raise ValidationError("partition_age_threshold_s must be >= 0")
    if size_trigger_rows is not None and size_trigger_rows < 1:
        raise ValidationError("size_trigger_rows must be >= 1")
    # the selection lists L1 directories, not a streaming sink's log,
    # and a mark there could never be acked
    store._require_l1_batch_writable()
    if now_ms is None:
        now_ms = _now_ms()
    files = store._list_files(None)
    log = _read_table(
        store, store.config.purge_log_path, PURGE_LOG_SCHEMA,
        ["tag", "part_start", "event_ts"], [("status", "==", "marked")],
    ).read_all()
    selected = _coldest(
        files, log, max_partitions_to_mark,
        now_ms, int(partition_age_threshold_s * 1000), size_trigger_rows,
    )
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
    for batch in files.batches({(m.tag, m.part_start) for m in marks}):
        _write_snapshots(
            store,
            files.read(_in_partitions(batch)),
            [m for m in marks if (m.tag, m.part_start) in batch],
        )
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


def _coldest(files, marked, k, now_ms, threshold_ms, size_trigger_rows):
    """``(tag, part_start, n_rows)`` of the K coldest eligible
    partitions, by ``(last_seen, tag, part_start)``; ``marked`` holds
    the purge log's ``marked`` rows."""
    last_marked: dict[tuple, int] = {}
    for tag, part_start, event_ts in zip(*_columns(marked, "tag", "part_start", "event_ts")):
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
    has none), the L0 segments' from a read of their ``tag``,
    ``part_start`` and ``ingest_ts`` columns."""
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
        per_part = read_members(
            segments, [None] * len(segments), columns=["tag", "part_start", "ingest_ts"]
        ).group_by(["tag", "part_start"]).aggregate(
            [("ingest_ts", "max"), ("ingest_ts", "count")]
        )
        for tag, part_start, last_seen, n in zip(
            *_columns(per_part, "tag", "part_start", "ingest_ts_max", "ingest_ts_count")
        ):
            add((tag, part_start), last_seen, n)
    return activity


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
    Scale shape (see the module docstring): the EXCEPT is an Arrow
    anti-join over a batch of partitions at a time, and each partition
    that lost members is rewritten as one file. On a lakehouse table
    this whole function is one Delta ``MERGE ... WHEN MATCHED
    DELETE``."""
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
    _evict(store, valid, marks)
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
    log = _read_table(
        store, store.config.purge_log_path, PURGE_LOG_SCHEMA,
        ["purge_id", "tag", "part_start", "status", "n_rows"],
        [("purge_id", "in", purge_ids)],
    ).read_all()
    for pid, tag, part_start, status, n in zip(
        *_columns(log, "purge_id", "tag", "part_start", "status", "n_rows")
    ):
        states.setdefault(pid, set()).add(status)
        if status == "marked":
            marks[pid] = max(marks.get(pid, (tag, part_start, n)), (tag, part_start, n))
    return states, marks


def _evict(store, valid, marks) -> None:
    """Rewrite each L1 partition that the acks ``valid`` touch as hot
    EXCEPT its snapshots, one batch of partitions
    (``DriverFiles.batches``) at a time."""
    pids: dict[tuple, list[str]] = {}
    for pid in valid:
        pids.setdefault(marks[pid][:2], []).append(pid)
    files = store._list_files(set(pids), unflushed=False)
    l1 = files.l1()
    for batch in files.batches(pids):
        hot = files.read(_in_partitions(batch))
        snapshot = _read_table(
            store, store.config.cold_path, COLD_SNAPSHOT_SCHEMA, MEMBER_IDENTITY_COLS,
            [("purge_id", "in", [pid for key in batch for pid in pids[key]])],
        ).read_all()
        remainder = _except_members(hot, snapshot)
        for key in sorted(batch):
            part = _in_partitions([key])
            rows = remainder.filter(part)
            # an emptied partition is dropped even when a crashed ack
            # already removed its rows: its emptied tag= directory goes too
            if rows.num_rows == 0 or rows.num_rows < hot.filter(part).num_rows:
                _replace_partition(store, key, rows, l1.get(key, []))
    # a drop inside a tag= directory that stays changes nothing the
    # other instances' layout tokens watch but the marker
    store._mark_l1_changed()


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


@_serialized_maintenance
def compact_purge_log(store: TimeseriesStore) -> int:
    """Snapshot the append-only purge log into a single file.

    Every ``purge_scan``/``purge_ack`` appends one small parquet file
    (one commit each, like the reference's one stream entry per Lua
    call), so after N maintenance cycles the log directory holds N
    files and every protocol read pays N file opens. The log is
    protocol metadata — two rows per eviction — so the whole table
    rewrites into one file; run via ``compact()``, the same maintenance
    job that does LWW segment hygiene. The log's record batches
    (``_read_table``) stream through one Parquet writer on the driver,
    so memory holds one batch at a time.

    Swap order keeps a full copy on disk at every instant (the
    single-writer caveat in the module docstring applies — this is the
    maintenance job, not a concurrent writer): write the snapshot to a
    temp dir, rename live -> ``.compact-old``, rename temp -> live,
    delete old. ``purge_log`` falls back to ``.compact-old`` if a crash
    lands between the renames. Returns the number of data files
    replaced (0 = nothing to do)."""
    import pyarrow.parquet as pq

    store._require_init()
    path = store.config.purge_log_path
    store.commit.repair_interrupted_rewrite(store, path)
    if not store.commit.table_exists(store, path):
        return 0
    n_files = store.commit.table_file_count(store, path)
    if n_files <= 1:
        return 0

    def write_snapshot(tmp: str) -> None:
        # read here, inside the rewrite: a version-logged backend
        # captures the member's files before its source is read
        log = _read_table(store, path, PURGE_LOG_SCHEMA, PURGE_LOG_SCHEMA.fieldNames())
        store.fs.makedirs(tmp)
        with pq.ParquetWriter(
            f"{tmp}/part-{uuid.uuid4().hex}.snappy.parquet", log.schema,
            compression="snappy", store_schema=False,
        ) as writer:
            for batch in log:
                writer.write_batch(batch)
        # _SUCCESS last: repair_interrupted_rewrite rolls a swap
        # forward only onto a complete snapshot
        store.fs.write_text(f"{tmp}/_SUCCESS", "")

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

    Scale shape (see the module docstring): ``_compact_batch`` runs
    over the listed L1 partitions in-process when they fit one batch,
    else in Spark tasks (``_compact_on_tasks``); the driver publishes
    (``_publish_compacted``).
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
    files = store._list_files(None, unflushed=False)
    l1 = files.l1()
    batches = [[(*key, l1[key]) for key in sorted(keys)] for keys in files.batches(l1)]
    if len(batches) > 1:
        dirty = _compact_on_tasks(store, batches)
    else:
        dirty = [r for items in batches for r in _compact_batch(items)]
    metrics = _publish_compacted(store, dirty, l1, max_partitions)
    store.invalidate_hot_cache()
    return metrics


def _compact_batch(items) -> list[tuple]:
    """The compaction kernel over the L1 partitions ``items``, each
    ``(tag, part_start, files)``: a partition holding more rows than
    LWW winners (``lww_latest_arrow``) is dirty, and its winners are
    written under a hidden temp name beside its files
    (``_inprogress_path``). Returns ``(tag, part_start, temp path,
    rows, winners)`` per dirty partition."""
    out = []
    for tag, part_start, paths in items:
        members = read_members(paths, [(tag, part_start)] * len(paths))
        winners = lww_latest_arrow(members)
        if winners.num_rows < members.num_rows:
            tmp = _inprogress_path(paths[0].rsplit("/", 1)[0])
            _driver_parquet_file(winners.select(DATA_COLS), tmp)
            out.append((tag, part_start, tmp, members.num_rows, winners.num_rows))
    return out


def _compact_on_tasks(store: TimeseriesStore, batches) -> list[tuple]:
    """``_compact_batch`` over each of ``batches`` in one Spark job, a
    task per batch. A task imports this package from the directory the
    driver imports it from, and writes into the store's directories:
    executors must see both, as a local cluster's do."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(ids):
        import sys

        import pyarrow as pa

        if root not in sys.path:
            sys.path.insert(0, root)
        from redis_lsm_timeseries_spark.tiering import _compact_batch

        schema = pa.schema([
            ("tag", pa.string()), ("part_start", pa.int64()), ("path", pa.string()),
            ("rows", pa.int64()), ("winners", pa.int64()),
        ])
        for ids_batch in ids:
            for i in ids_batch.column(0).to_pylist():
                dirty = _compact_batch(batches[i])
                yield pa.RecordBatch.from_pylist(
                    [dict(zip(schema.names, r)) for r in dirty], schema=schema
                )

    return [
        tuple(r)
        for r in store.spark.range(len(batches), numPartitions=len(batches))
        .mapInArrow(run, "tag string, part_start long, path string, rows long, winners long")
        .collect()
    ]


def _publish_compacted(store, dirty, l1, max_partitions) -> CompactionMetrics:
    """Publish the ``max_partitions`` dirtiest of the kernel's ``dirty``
    partitions (most superseded rows first; all without a bound): each
    temp file takes its name, then the files it replaces go
    (``_remove_files``), then ``hot/_SUCCESS`` is replaced. The temp
    files of the rest are removed."""
    dirty = sorted(dirty, key=lambda r: (r[4] - r[3], r[0], r[1]))
    n = len(dirty) if max_partitions is None else max_partitions
    published = dirty[:n]
    for tag, part_start, tmp, _, _ in published:
        store.fs.rename(tmp, _published_path(tmp))
        _remove_files(store, l1[(tag, part_start)])
    if published:
        store._mark_l1_changed()
    for r in dirty[n:]:
        store.fs.remove_file(r[2])
    return CompactionMetrics(
        len(published), sum(r[3] for r in published), sum(r[4] for r in published)
    )


def purge_payload(store: TimeseriesStore, purge_id: str) -> DataFrame:
    """Decode a purge snapshot back into samples (reference
    ``parsePurgePayload``, ``index.js:350-355``), LWW-merged the same
    way a read would be (O6), as a ``session.local_frame``."""
    store._require_init()
    snap = _read_table(
        store, store.config.cold_path, COLD_SNAPSHOT_SCHEMA,
        SAMPLE_SCHEMA.fieldNames(), [("purge_id", "==", purge_id)],
    ).read_all()
    return local_frame(store.spark, lww_latest_arrow(snap), RANGE_RESULT_SCHEMA)


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
    volume. The lookup reads metadata only, on the driver: the hot
    listing and its Parquet footers (``_partition_activity``), and the
    cold snapshots' ``purge_id=/tag=/part_start=`` directory names
    (``_read_table``).

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
    cutoff = older_than_ms - store.config.partition_width
    store.flush_l0()
    doomed = sorted(
        (part_start, tag, n)
        for (tag, part_start), (_, n) in _partition_activity(store._list_files(None)).items()
        if part_start <= cutoff
    )[:max_partitions]
    for part_start, tag, _ in doomed:
        store.commit.drop_partition_dir(
            store, partition_dir(store.config.hot_path, tag, part_start)
        )
    if doomed:
        # other instances' cached hot() handles see the drops by the
        # marker (see _evict)
        store._mark_l1_changed()
        store.invalidate_hot_cache()
    if drop_cold:
        cold = _read_table(
            store, store.config.cold_path, COLD_SNAPSHOT_SCHEMA,
            list(SNAPSHOT_DIRS), [("part_start", "<=", cutoff)],
        ).read_all()
        for purge_id, tag, part_start in sorted(zip(*_columns(cold, *SNAPSHOT_DIRS))):
            store.commit.drop_partition_dir(
                store,
                partition_dir(f"{store.config.cold_path}/purge_id={purge_id}", tag, part_start),
            )
    return RetentionMetrics(len(doomed), sum(n for _, _, n in doomed))
