"""TableCommit — the atomic-commit seam for maintenance jobs.

The reference gets mark/ack atomicity from Redis running each Lua
script single-threaded (``enqueue-purge.lua:1-28``,
``ack-purge.lua:1-28``); a lakehouse deployment gets it from the table
format's optimistic commit protocol. This seam isolates every place
the engine needs transactional table semantics so the storage protocol
is swappable without touching the maintenance logic in ``tiering.py``:

=====================  ==========================  =====================
operation              ParquetLeaseCommit          Delta / Iceberg
=====================  ==========================  =====================
maintenance_lock       lease file (O_EXCL +        optimistic commit w/
                       nonce read-back)            conflict detection
append_rows            parquet append (one         transactional append
                       commit per job)
overwrite_partitions   dynamic partition           MERGE / replaceWhere
                       overwrite
drop_partition_dir     recursive delete            DELETE WHERE
snapshot_rewrite       write-tmp + two renames     OPTIMIZE / rewrite
                       (+ crash repair)            under snapshot
                                                   isolation
=====================  ==========================  =====================

``ParquetLeaseCommit`` is the default and preserves the exact protocol
the engine has shipped since round 5 — correct under the enforced
single-writer maintenance regime, with crash repair for the one
non-atomic window (the two-rename swap).

``ManifestCommit`` is the transactional implementation of the same
seam: a Delta-``_delta_log``-style put-if-absent version log per
table, exact-file manifests, snapshot isolation for readers, and
atomic multi-member appends (``append_tables``). It is the
right-hand column of the table above as code, self-contained (no
delta-spark dependency, which this environment does not ship); a real
Delta/Iceberg binding would subclass ``TableCommit`` the same way and
delegate to the table format's transaction API.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

import threading

from redis_lsm_timeseries_spark.errors import (
    ConcurrentMaintenanceError,
    NonAppendHistoryError,
    RewriteConflictError,
    ValidationError,
    VersionNotFoundError,
)

#: guards the one-time lazy creation of a host's in-process lease
#: primitives (check-then-set on the host attribute would otherwise be
#: the very first-acquisition race the thread lock exists to prevent)
_LEASE_SETUP_LOCK = threading.Lock()

LEASE_FILE = "_maintenance_lease"
TMP_SUFFIX = ".compact-tmp"
OLD_SUFFIX = ".compact-old"


def _now_ms() -> int:
    return int(time.time() * 1000)


#: Spark scalar types a driver-side parquet write reproduces exactly
#: (pyarrow type with identical parquet physical/logical encoding).
_DRIVER_PA_TYPES = {
    "string": "string",
    "bigint": "int64",
    "int": "int32",
    "double": "float64",
    "float": "float32",
    "boolean": "bool_",
}


def _driver_writable_fields(schema) -> list[tuple[str, str]] | None:
    """``[(name, pyarrow type attr)]`` when every column of ``schema``
    (StructType or DDL string) is an exact-mappable scalar; None
    otherwise (caller keeps the Spark write path). DDL strings parse
    session-free via the simple-DDL splitter pattern: ``name type``
    pairs at depth 0."""
    if isinstance(schema, str):
        fields = []
        depth = 0
        part = []
        parts = []
        for ch in schema:
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(part))
                part = []
            else:
                part.append(ch)
        parts.append("".join(part))
        for p in parts:
            bits = p.strip().split()
            if len(bits) != 2:
                return None
            name, typ = bits[0].strip("`"), bits[1].lower()
            if typ == "long":
                typ = "bigint"
            if typ not in _DRIVER_PA_TYPES:
                return None
            fields.append((name, _DRIVER_PA_TYPES[typ]))
        return fields
    try:
        return [
            (f.name, _DRIVER_PA_TYPES[f.dataType.simpleString()])
            for f in schema.fields
        ]
    except (KeyError, AttributeError):
        return None


def _driver_arrow_schema(schema):
    """``schema`` as a pyarrow schema, or None when it holds a type the
    driver writer does not reproduce exactly (``_driver_writable_fields``)."""
    import pyarrow as pa

    fields = _driver_writable_fields(schema)
    if fields is None:
        return None
    return pa.schema([(name, getattr(pa, t)()) for name, t in fields])


def _driver_arrow_table(rows: list[tuple], schema):
    """A BOUNDED row batch as an Arrow table, for a parquet write from
    the driver — no Spark job. The append-only protocol tables (purge
    log: <= K marks / <= max_ids acks per call) pay one whole Spark job
    per append under the createDataFrame path, pure fixed cost at any
    scale; real table formats write commit metadata driver-side for
    exactly this reason (Delta's JSON actions). Returns None (caller
    falls back to the Spark write) when the schema carries any type
    outside the exact-scalar map — datum fidelity is the contract, so
    anything nontrivial keeps the old path."""
    import pyarrow as pa

    pa_schema = _driver_arrow_schema(schema)
    if pa_schema is None:
        return None
    cols = list(zip(*rows)) if rows else [[] for _ in pa_schema]
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)],
        schema=pa_schema,
    )


def _driver_parquet_file(table, dest: str) -> None:
    """Write an Arrow table as one parquet file. Its shape matches the
    Spark writer where it matters for reads: snappy compression,
    optional (nullable) fields — Spark writes all fields optional
    regardless of declared nullability. The footer carries no
    ``ARROW:schema`` copy: every column is a scalar whose Parquet type
    reads back as itself, and on a flush's small per-partition files
    that copy made them about 16% larger than Spark's."""
    import pyarrow.parquet as pq

    pq.write_table(table, dest, compression="snappy", store_schema=False)


def _inprogress_path(dir_path: str) -> str:
    """A new data file's hidden temp path in ``dir_path``, which every
    listing skips until ``_published_path`` names it."""
    return f"{dir_path}/.part-{uuid.uuid4().hex}.snappy.parquet.inprogress"


def _published_path(tmp: str) -> str:
    head, name = tmp.rsplit("/", 1)
    return f"{head}/{name[1:-len('.inprogress')]}"


def _driver_parquet_append(fs, table, dir_path: str) -> None:
    """Add the Arrow ``table`` to ``dir_path`` as one new parquet file
    written on the driver (``_driver_parquet_file``) and published
    atomically: the bytes go to a hidden temp name
    (``_inprogress_path``), and ``fs.rename`` then gives the file its
    own. A reader sees the whole file or nothing.

    ``flush_l0`` retires an emptied L0 directory with
    ``rmdir_if_empty``, which can land between the ``makedirs`` and the
    write; the write then re-creates the directory and retries. Once
    the temp file exists the directory is not empty and stays. A write
    that raises removes its temp file; a crashed one leaves it behind,
    inert."""
    tmp = _inprogress_path(dir_path)
    try:
        for attempt in range(3):
            fs.makedirs(dir_path)
            try:
                _driver_parquet_file(table, tmp)
                break
            except FileNotFoundError:
                if attempt == 2:
                    raise
        fs.rename(tmp, _published_path(tmp))
    except Exception:
        fs.remove_file(tmp)
        raise


def _driver_parquet_replace(fs, table, dest: str) -> None:
    """Replace the Parquet file ``dest`` with the Arrow ``table`` in one
    rename: the bytes go to a hidden temp name beside it
    (``.<name>.inprogress``), which then takes ``dest``'s name, so a
    reader sees the old file or the new one, never both or neither.
    ``dest``'s checksum sidecar goes first: a reader would check the
    new bytes against it, while a file without one reads unchecked. A
    write that raises removes its temp file; a crashed one leaves it
    behind, inert."""
    head, name = dest.rsplit("/", 1)
    tmp = f"{head}/.{name}.inprogress"
    fs.remove_file(f"{head}/.{name}.crc")
    try:
        _driver_parquet_file(table, tmp)
        fs.rename(tmp, dest)
    except Exception:
        fs.remove_file(tmp)
        raise


class TableCommit:
    """Interface. Subclasses provide the operations above plus the
    read-side resolution (a transactional backend decides WHAT a
    reader sees, so reads route through the seam too); every
    maintenance entry point in ``tiering.py``/``rollup.py`` routes
    through the store's instance (``store.commit``)."""

    @contextmanager
    def maintenance_lock(self, store, ttl_s: float = 900.0,
                         now_ms: int | None = None):
        raise NotImplementedError

    def append_rows(self, store, rows: list[tuple], schema, path: str) -> None:
        raise NotImplementedError

    def append_partitioned(
        self, store, df: DataFrame, path: str, partition_cols,
        app_meta: dict | None = None, expected_app: dict | None = None,
    ) -> None:
        raise NotImplementedError

    def overwrite_partitions(
        self, store, df: DataFrame, path: str, partition_cols,
        cdf_df: DataFrame | None = None,
    ) -> None:
        raise NotImplementedError

    def drop_partition_dir(self, store, path: str) -> None:
        raise NotImplementedError

    def snapshot_rewrite(self, store, path: str, write_snapshot) -> None:
        raise NotImplementedError

    def repair_interrupted_rewrite(self, store, path: str) -> None:
        raise NotImplementedError

    def read_table(
        self, store, path: str, schema=None, version: int | None = None
    ) -> DataFrame:
        """Current committed snapshot of a table. ``schema`` doubles as
        the never-written fallback: with it, an absent table reads as
        an empty DataFrame; without it, absence raises. ``version``
        requests a time-travel read of a retained historical snapshot —
        only version-logged backends support it (``ManifestCommit``);
        directory backends raise ``VersionNotFoundError`` (they keep no
        history)."""
        raise NotImplementedError

    def read_table_pruned(
        self,
        store,
        path: str,
        schema=None,
        predicates: dict | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """``read_table`` narrowed by data skipping where the backend
        keeps per-file statistics (``ManifestCommit``); backends
        without stats return the full snapshot — the caller's row
        filter carries the semantics either way, skipping only changes
        how many files the scan plans over."""
        return self.read_table(store, path, schema, version=version)

    def driver_table_files(self, store, path: str) -> list[str] | None:
        """The data files of the table, or table directory, at ``path``
        as a driver-side pyarrow reader would read them; None when this
        backend decides what a reader sees through its own reader
        (``read_table``), so a driver reader must hand the work to
        Spark."""
        return None

    def table_exists(self, store, path: str) -> bool:
        raise NotImplementedError

    def table_file_count(self, store, path: str) -> int:
        raise NotImplementedError

    def append_tables(
        self, store, root: str, dfs: dict[str, DataFrame]
    ) -> None:
        """Append several member tables under one root in ONE logical
        commit. Transactional backends make this atomic (all members
        visible together or not at all — the streaming-admission
        output/digest/band triple rides on it); directory backends
        degrade to ordered per-member appends and document the crash
        window."""
        raise NotImplementedError

    def replace_tables(
        self, store, root: str, dfs: dict[str, DataFrame]
    ) -> None:
        """Replace several member tables under one root in ONE logical
        commit (the REBUILD analog of ``append_tables`` — each member's
        content becomes exactly ``dfs[member]``). Transactional
        backends make the swap atomic across members (a derived index
        whose parts must stay mutually consistent, e.g. IVF centroids
        + their assignments); directory backends degrade to ordered
        per-member overwrites."""
        raise NotImplementedError

    def vacuum(self, store, root: str) -> int:
        """Collect physically-present data no current snapshot
        references. Directory backends have none (overwrites and drops
        delete eagerly) — no-op returning 0; ManifestCommit overrides
        (its mutations are manifest edits, deletes are deferred)."""
        return 0

    #: read-side widening targets supported by ``widen_column``
    WIDEN_TYPES = {"long", "double"}

    #: lossless source dtypes per widening target — anything else
    #: (string->long, bigint->double, ...) would silently corrupt
    #: values via the read-side cast, so it refuses
    WIDEN_SOURCES = {
        "long": {"tinyint", "smallint", "int", "bigint"},
        "double": {"float", "double"},
    }

    def _check_widen_source(self, cur: str, column: str, to_type: str):
        if cur not in self.WIDEN_SOURCES[to_type]:
            raise ValidationError(
                f"widen_column: {column!r} is {cur!r}; widening to "
                f"{to_type!r} supports only "
                f"{sorted(self.WIDEN_SOURCES[to_type])} (a lossy or "
                "non-numeric cast would silently corrupt values)"
            )

    def rename_column(self, store, path: str, old: str, new: str) -> None:
        """Rename a column. Directory backends have no metadata store,
        so this is an EAGER whole-table rewrite (read, rename, snapshot
        swap) — correct, O(table); ``ManifestCommit`` overrides with a
        metadata-only logical mapping (the Delta column-mapping idiom:
        physical file schemas never change). Dotted paths rename a
        nested struct field (same eager posture here; ``new`` may be
        the bare leaf or share ``old``'s parent)."""
        from pyspark.sql import functions as F

        df = self.read_table(store, path, None)
        if "." in old or "." in new:
            top, rest = old.split(".", 1)
            leaf = new.rsplit(".", 1)[-1]
            if "." in new and new.rsplit(".", 1)[0] != old.rsplit(
                ".", 1
            )[0]:
                raise ValidationError(
                    f"rename_column: {old!r} -> {new!r} would MOVE "
                    "the field to a different parent"
                )
            if top not in df.columns:
                raise ValidationError(
                    f"rename_column: {top!r} not in {df.columns}"
                )
            within = rest.rsplit(".", 1)
            parent_within = within[0] if len(within) == 2 else ""
            tgt = (
                f"{parent_within}.{leaf}" if parent_within else leaf
            )
            out = df.withColumn(
                top,
                F.col(top)
                .withField(tgt, F.col(f"{old}"))
                .dropFields(rest),
            )
        else:
            if old not in df.columns:
                raise ValidationError(
                    f"rename_column: {old!r} not in {df.columns}"
                )
            if new in df.columns:
                raise ValidationError(
                    f"rename_column: {new!r} already exists"
                )
            out = df.withColumnRenamed(old, new)
        self.snapshot_rewrite(
            store, path,
            lambda tmp: out.write.mode("overwrite").parquet(tmp),
        )

    def drop_column(self, store, path: str, column: str) -> None:
        """Drop a column. Directory backends rewrite eagerly;
        ``ManifestCommit`` overrides with a metadata-only exclusion
        (old files keep the physical column; the logical view omits
        it and new writes never carry it). Dotted paths drop a nested
        struct field (eager here too)."""
        from pyspark.sql import functions as F

        df = self.read_table(store, path, None)
        if "." in column:
            top, rest = column.split(".", 1)
            if top not in df.columns:
                raise ValidationError(
                    f"drop_column: {top!r} not in {df.columns}"
                )
            out = df.withColumn(top, F.col(top).dropFields(rest))
        else:
            if column not in df.columns:
                raise ValidationError(
                    f"drop_column: {column!r} not in {df.columns}"
                )
            if len(df.columns) == 1:
                raise ValidationError(
                    "drop_column: cannot drop the only column"
                )
            out = df.drop(column)
        self.snapshot_rewrite(
            store, path,
            lambda tmp: out.write.mode("overwrite").parquet(tmp),
        )

    def widen_column(self, store, path: str, column: str, to_type: str) -> None:
        """Widen a column's read type (int->long, float->double).
        Directory backends rewrite eagerly; ``ManifestCommit``
        overrides with a metadata-only cast applied at read (old files
        keep their narrow physical type; new writes land widened).
        Dotted paths widen a nested struct leaf (eager here)."""
        from pyspark.sql import functions as F

        if to_type not in self.WIDEN_TYPES:
            raise ValidationError(
                f"widen_column: to_type must be one of "
                f"{sorted(self.WIDEN_TYPES)}, got {to_type!r}"
            )
        df = self.read_table(store, path, None)
        if "." in column:
            top, rest = column.split(".", 1)
            if top not in df.columns:
                raise ValidationError(
                    f"widen_column: {top!r} not in {df.columns}"
                )
            cur = df.select(F.col(column)).dtypes[0][1]
            self._check_widen_source(cur, column, to_type)
            # withField REPLACES the existing leaf in place
            out = df.withColumn(
                top,
                F.col(top).withField(
                    rest, F.col(column).cast(to_type)
                ),
            )
        else:
            if column not in df.columns:
                raise ValidationError(
                    f"widen_column: {column!r} not in {df.columns}"
                )
            self._check_widen_source(
                dict(df.dtypes)[column], column, to_type
            )
            out = df.withColumn(column, df[column].cast(to_type))
        self.snapshot_rewrite(
            store, path,
            lambda tmp: out.write.mode("overwrite").parquet(tmp),
        )


class ParquetLeaseCommit(TableCommit):
    """Plain-Parquet implementation: lease-file mutual exclusion +
    directory-level commit idioms. See the module docstring for the
    lakehouse drop-in mapping."""

    #: minimum heartbeat cadence (seconds). Production floor of 1 s
    #: keeps the daemon cheap; tests shrink it to run the renewer hot
    #: against the release path (the resurrection-race stress).
    HEARTBEAT_FLOOR_S = 1.0

    @contextmanager
    def maintenance_lock(
        self, store, ttl_s: float = 900.0, now_ms: int | None = None
    ):
        """Single-writer guard for the maintenance jobs.

        Mechanics: atomic create-if-absent of
        ``{base}/_maintenance_lease`` through the fs seam (local
        ``O_EXCL``; conditional put on object stores). A lease older
        than its ``ttl_s`` horizon is presumed crashed and stolen.
        Steal = remove + re-create, which is NOT atomic (a second
        stealer's remove can delete the lease the first just created),
        so the create result alone is never trusted: after every
        acquisition the lease is READ BACK and must carry this
        acquisition's unique nonce, else the acquisition lost and
        raises. Release is guarded the same way — the file is removed
        only while it still holds this acquisition's nonce, so an
        expired holder exiting late cannot delete a stealer's fresh
        lease. A read-back/act window remains (this is a best-effort
        local-FS guard); a lakehouse deployment replaces the file with
        the table format's optimistic commit.

        Reentrancy is PER THREAD (``compact`` calls
        ``compact_purge_log`` on the same thread); a SECOND thread of
        the same process/instance raises ``ConcurrentMaintenanceError``
        instead of silently sharing the lease — the lease file cannot
        arbitrate intra-process threads (same writer id, and the
        crashed-same-writer re-acquire path would let the second
        thread steal its sibling's lease), so an in-process
        non-blocking ``threading.Lock`` does. A lease left by a
        crashed run of the SAME writer id (a fresh process/instance)
        still re-acquires immediately.

        While held, a daemon HEARTBEAT re-extends ``expires_ms`` every
        ``ttl_s / 3`` (real clock, nonce-guarded), so an operation
        longer than the TTL — a multi-hour bulk ``write_df`` — keeps
        its lease without inflating the crash-recovery horizon: a dead
        holder stops renewing and expires within one ``ttl_s``. The
        heartbeat also covers NESTED acquisitions (an outer
        maintenance lease around a long bulk load renews itself), so
        the reentrant fast path can ignore the inner call's ``ttl_s``.

        If the lease is STOLEN mid-operation anyway (e.g. the process
        was suspended past the TTL between heartbeats), the exit
        raises ``ConcurrentMaintenanceError`` after completing the
        body: the violation cannot be prevented retroactively, but it
        must not pass silently — the caller's writes may have raced
        the stealer's and need verification/retry."""
        store._require_init()
        tls = getattr(store, "_lease_tls", None)
        plock = getattr(store, "_lease_plock", None)
        if tls is None or plock is None:
            with _LEASE_SETUP_LOCK:
                tls = getattr(store, "_lease_tls", None)
                if tls is None:
                    tls = store._lease_tls = threading.local()
                plock = getattr(store, "_lease_plock", None)
                if plock is None:
                    plock = store._lease_plock = threading.Lock()
        depth = getattr(tls, "depth", 0)
        if depth > 0:
            tls.depth = depth + 1
            try:
                yield
            finally:
                tls.depth -= 1
            return
        if not plock.acquire(blocking=False):
            raise ConcurrentMaintenanceError(
                "maintenance lease held by another thread of this "
                "process for " + store.config.base_path
            )
        try:
            yield from self._locked_file_lease(
                store, tls, ttl_s=ttl_s, now_ms=now_ms
            )
        finally:
            plock.release()

    def _locked_file_lease(self, store, tls, ttl_s: float, now_ms):
        """The lease-file protocol, entered with the in-process thread
        lock already held (see ``maintenance_lock``)."""
        path = f"{store.config.base_path}/{LEASE_FILE}"
        if now_ms is None:
            now_ms = _now_ms()
        nonce = uuid.uuid4().hex
        payload = json.dumps(
            {
                "holder": store.writer_id,
                "nonce": nonce,
                "expires_ms": now_ms + int(ttl_s * 1000),
            }
        )

        def _held_by_me() -> bool:
            try:
                cur = json.loads(store.fs.read_text(path))
            except Exception:
                return False
            return (
                cur.get("holder") == store.writer_id
                and cur.get("nonce") == nonce
            )

        if not store.fs.create_exclusive(path, payload):
            try:
                cur = json.loads(store.fs.read_text(path))
            except Exception:
                # Vanished mid-race (holder just released) or
                # unreadable: fall through to the steal path, whose
                # read-back is the real arbiter.
                cur = None
            if (
                cur is not None
                and cur.get("holder") != store.writer_id
                and now_ms <= cur.get("expires_ms", 0)
            ):
                raise ConcurrentMaintenanceError(
                    f"maintenance lease held by {cur.get('holder')!r} "
                    f"until {cur.get('expires_ms')} (now {now_ms})"
                )
            store.fs.remove_file(path)
            store.fs.create_exclusive(path, payload)
        # Arbiter for every acquisition path: whatever create_exclusive
        # returned, we own the lease only if the file now carries OUR
        # nonce.
        if not _held_by_me():
            raise ConcurrentMaintenanceError(
                "lost the lease-steal race for " + path
            )

        # Heartbeat: extend expires_ms at ttl/3 cadence while held
        # (real clock — a caller-supplied fake now_ms only shapes the
        # ACQUISITION decision). Best-effort and nonce-guarded: if the
        # lease was stolen, renewal stops touching it and the exit
        # check reports the violation.
        stop_renewal = threading.Event()
        # Serializes the renewer's {check, write} against the exit
        # path's {set, check, remove}: without it the renewer can pass
        # _held_by_me() just as the holder releases, then write_text
        # resurrects the removed lease file with a fresh expires_ms,
        # blocking other writers for up to ttl_s. Both sides are
        # in-process, so a plain mutex closes the window exactly.
        renew_mutex = threading.Lock()

        def _renew():
            while not stop_renewal.wait(
                max(self.HEARTBEAT_FLOOR_S, ttl_s / 3.0)
            ):
                try:
                    with renew_mutex:
                        if stop_renewal.is_set():
                            return
                        if _held_by_me():
                            store.fs.write_text(
                                path,
                                json.dumps(
                                    {
                                        "holder": store.writer_id,
                                        "nonce": nonce,
                                        "expires_ms": _now_ms()
                                        + int(ttl_s * 1000),
                                    }
                                ),
                            )
                except Exception:
                    pass  # next beat retries; exit check is the backstop

        renewer = threading.Thread(target=_renew, daemon=True)
        renewer.start()
        tls.depth = 1
        stolen = False
        try:
            yield
            stolen = not _held_by_me()
        finally:
            with renew_mutex:
                stop_renewal.set()
                tls.depth = 0
                if _held_by_me():
                    store.fs.remove_file(path)
        if stolen:
            raise ConcurrentMaintenanceError(
                f"maintenance lease for {path} was stolen mid-operation "
                f"(held past ttl_s={ttl_s}); this job's writes may have "
                "raced the stealer's — verify state and retry"
            )

    def append_rows(self, store, rows, schema, path: str) -> None:
        """One appended file per call — the one-stream-entry-per-Lua-
        call analog. Single-slice parallelize, NOT
        ``createDataFrame(rows).coalesce(1)``: createDataFrame spreads
        even a 4-row list over defaultParallelism partitions, and
        coalesce(1) then evaluates all 32 Python input partitions
        serially in one task (~0.15 s of worker round-trips each —
        measured 4.5 s per append). One input slice = one task.

        r18: the file is written DRIVER-SIDE when every column is an
        exact-mappable scalar (``_driver_arrow_table``) — the rows
        are bounded protocol metadata already sitting in driver
        memory, and the Spark job the old path paid per append was
        the purge/ack protocol's single largest fixed cost. The file
        is published by rename (``_driver_parquet_append``), so a
        reader never sees it half-written, and an I/O error raises.
        Non-scalar schemas keep the Spark path."""
        table = _driver_arrow_table(rows, schema)
        if table is not None:
            _driver_parquet_append(store.fs, table, path)
            return
        rdd = store.spark.sparkContext.parallelize(rows, 1)
        df = store.spark.createDataFrame(rdd, schema)
        df.write.mode("append").parquet(path)

    def append_partitioned(self, store, df, path, partition_cols,
                           app_meta=None, expected_app=None) -> None:
        """Partitioned append (the cold-snapshot write): plain file
        append into the hive layout — atomic per file, job-level
        visibility via the committer's rename. ``app_meta`` /
        ``expected_app`` (the transactional batch-cursor leg) need a
        version log; asking the directory backend for them must fail
        loudly, not silently drop the exactly-once guarantee."""
        if app_meta or expected_app:
            raise ValidationError(
                "append_partitioned: app_meta/expected_app need a "
                "manifest-managed table (directory mode keeps no "
                "metadata map to commit the cursor into)"
            )
        (
            df.write.mode("append")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    def overwrite_partitions(self, store, df, path, partition_cols,
                             cdf_df=None) -> None:
        """Dynamic partition overwrite: only partitions present in
        ``df`` are replaced. Set per-write (not just session-wide) —
        with a static-overwrite session default this writer would
        silently DELETE every other partition. On Delta this whole
        method is ``MERGE ... WHEN MATCHED`` / ``replaceWhere``.

        ``cdf_df`` is accepted for signature parity and IGNORED: the
        directory backend keeps no version log, so there is no change
        feed to serve the rows to."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    def drop_partition_dir(self, store, path: str) -> None:
        """Remove one partition directory (dynamic overwrite rewrites
        only partitions present in the output, so emptied ones are
        dropped explicitly), then each parent partition directory
        (a ``key=value`` name) the removal left empty, such as the
        ``tag=`` directory of a tag whose last partition went. On a
        lakehouse table: DELETE WHERE."""
        store.fs.remove_tree(path)
        parent = path.rsplit("/", 1)[0]
        while "=" in parent.rsplit("/", 1)[-1] and store.fs.rmdir_if_empty(parent):
            parent = parent.rsplit("/", 1)[0]

    def snapshot_rewrite(self, store, path: str, write_snapshot) -> None:
        """Replace a table directory with a freshly-written snapshot,
        keeping a full copy on disk at every instant: write the
        snapshot to ``<path>.compact-tmp`` (via the ``write_snapshot``
        callback), rename live -> ``.compact-old``, rename tmp ->
        live, delete old. ``repair_interrupted_rewrite`` completes or
        rolls back a swap that crashed between the renames. Runs only
        under the maintenance lock."""
        tmp, old = path + TMP_SUFFIX, path + OLD_SUFFIX
        store.fs.remove_tree(tmp)
        store.fs.remove_tree(old)
        write_snapshot(tmp)
        store.fs.rename(path, old)
        store.fs.rename(tmp, path)
        store.fs.remove_tree(old)

    def repair_interrupted_rewrite(self, store, path: str) -> None:
        """Complete or roll back a ``snapshot_rewrite`` that crashed
        between its two renames (live dir absent; pre-swap copy at
        ``.compact-old``). Without this, the next append would
        recreate the live dir holding only the new rows, after which
        readers stop falling back to ``.compact-old`` and all
        pre-rewrite state is silently dropped. Callers hold the
        maintenance lock, so the renames cannot race another
        repairer."""
        tmp, old = path + TMP_SUFFIX, path + OLD_SUFFIX
        if store.fs.exists(path):
            return
        if store.fs.exists(tmp) and store.fs.exists(f"{tmp}/_SUCCESS"):
            # The snapshot committed: roll the swap forward.
            store.fs.rename(tmp, path)
            store.fs.remove_tree(old)
        elif store.fs.exists(old):
            # Snapshot incomplete or already promoted-and-lost: roll
            # back.
            store.fs.remove_tree(tmp)
            store.fs.rename(old, path)

    def read_table(
        self, store, path: str, schema=None, version: int | None = None
    ) -> DataFrame:
        """Directory snapshot read. A table mid-``snapshot_rewrite``
        (live dir absent between the two renames) falls back to the
        pre-swap copy at ``.compact-old`` so a crash in the maintenance
        job never loses reader-visible state. A root emptied down to
        zero data files (retention can do this) reads as never-written
        — partition-schema inference would otherwise fail."""
        if version is not None:
            raise VersionNotFoundError(
                f"time travel to version {version} of {path!r}: the "
                "directory backend keeps no version history (use "
                "ManifestCommit)"
            )
        live = (
            store.fs.exists(path)
            and store.fs.count_files_with_suffix(path, ".parquet") > 0
        )
        if not live:
            old = path + OLD_SUFFIX
            if (
                store.fs.exists(old)
                and store.fs.count_files_with_suffix(old, ".parquet") > 0
            ):
                path = old
            elif schema is not None:
                return store.spark.createDataFrame([], schema)
            else:
                raise FileNotFoundError(path)
        reader = store.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    def driver_table_files(self, store, path: str) -> list[str]:
        """Every data file under ``path``, from one recursive listing
        through ``store.fs`` (``StorageFilesystem.list_files``), which
        skips ``_``- and ``.``-prefixed names as Spark's listing does.
        ``path`` resolves as in ``read_table``: a table between the two
        renames of ``snapshot_rewrite`` reads its ``.compact-old``
        copy, and an absent one holds no files."""
        if not (
            store.fs.exists(path)
            and store.fs.count_files_with_suffix(path, ".parquet") > 0
        ):
            path += OLD_SUFFIX
            if not store.fs.exists(path):
                return []
        return store.fs.list_files(path)

    def table_exists(self, store, path: str) -> bool:
        return store.fs.exists(path) or store.fs.exists(path + OLD_SUFFIX)

    def table_file_count(self, store, path: str) -> int:
        if not store.fs.exists(path):
            return 0
        return store.fs.count_files_with_suffix(path, ".parquet")

    def append_tables(self, store, root: str, dfs) -> None:
        """Ordered per-member appends — NOT atomic across members.
        Members append in the iteration order of ``dfs``; a crash
        between appends leaves a prefix committed. Callers that need
        all-or-nothing (the streaming admission triple) must order
        members so a committed prefix is safe to replay, or use
        ``ManifestCommit``, whose override is one atomic log entry."""
        for member, df in dfs.items():
            df.write.mode("append").parquet(f"{root}/{member}")

    def replace_tables(self, store, root: str, dfs) -> None:
        """Ordered per-member overwrites — NOT atomic across members
        (a crash between overwrites leaves a mixed-generation index);
        ``ManifestCommit`` makes the swap one log entry."""
        for member, df in dfs.items():
            df.write.mode("overwrite").parquet(f"{root}/{member}")


LOG_DIR = "_log"
DATA_DIR = "data"
STAGE_DIR = "_stage"
CHECKPOINT_SUFFIX = ".checkpoint.json"
#: content-addressed per-member checkpoint parts live under
#: ``_log/parts/{sha}.json`` (r13) — see _write_checkpoint
PARTS_DIR = "parts"

#: reconstruction cache: (root, version, entry-file stat signature) ->
#: snapshot state. Log entries are immutable once written (put-if-
#: absent), so a cached reconstruction never goes stale for a live
#: log; the stat signature invalidates the one mutation that happens
#: in practice (a test or operator rewriting the entry file in
#: place). Process-wide because ManifestCommit instances are created
#: ad hoc at every call site.
_RECON_CACHE: dict = {}
_RECON_CACHE_ORDER: list = []
_RECON_CACHE_MAX = 64
_RECON_CACHE_LOCK = threading.Lock()

#: thread-local handoff from ``_stage_data`` (the one data-staging
#: chokepoint) to ``_commit``: {(root, member): (constraint map
#: validated at staging (None = none existed), frozenset of the
#: staged relpaths)}. The commit that ADDS those staged files
#: CAS-checks the map against the entry it lands on — closing the
#: stage-to-commit window in which a concurrent ``add_constraint``/
#: ``drop_constraint`` could make the staged rows unvalidated (r15,
#: ADVICE). Keying by the staged FILE SET (r16) makes an entry from
#: an abandoned stage inert: its orphan files are never added by any
#: later commit, so it cannot raise a spurious conflict. Thread-local
#: because the stage and its commit always run on one thread within
#: one public call; concurrent writers keep their own maps.
_CONS_CAS = threading.local()


class ManifestCommit(ParquetLeaseCommit):
    """Transactional manifest-pointer backend — the documented
    Delta/Iceberg mapping as code, self-contained on any filesystem
    whose seam offers create-if-absent (local ``O_EXCL``; conditional
    put on object stores).

    Layout of a managed table root::

        {root}/_log/{version:020d}.json   # the commit log
        {root}/data[/{member}]/...        # immutable data files
        {root}/_stage/{uuid}/             # in-flight writes (invisible)

    Protocol (the Delta ``_delta_log`` idiom):

    - every commit writes ONE log entry via put-if-absent of the next
      version number — optimistic concurrency: of two racing
      committers exactly one wins, the loser re-reads and retries, and
      a lost race after exhausting retries raises
      ``ConcurrentMaintenanceError`` (conflict DETECTION, not a lock);
    - each entry records only the DELTA of the commit (files
      added/removed per member, their stats, app-map updates), and
      every ``CHECKPOINT_INTERVAL`` commits a full-state CHECKPOINT
      file (``{version}.checkpoint.json``) is written alongside — the
      Delta checkpoint / Iceberg manifest-list structure. Readers
      reconstruct a snapshot from the newest checkpoint at or below
      the wanted version plus the delta tail (never a directory
      listing), giving snapshot isolation: an in-flight read holds
      its reconstructed file list and is unaffected by any commit
      that lands under it. Commit cost and entry size are therefore
      O(change), not O(table) — at the documented ~100k-file / 100 TB
      shape a per-micro-batch streaming append writes a few-hundred-
      byte entry instead of re-serializing tens of MB of file lists.
      Entries written by older engine versions carry the complete
      per-member file list ("full" form); reconstruction treats any
      full entry as an anchor, so mixed-history logs read correctly;
    - data files are immutable and writes stage under ``_stage`` (an
      underscore path Spark readers skip) before their files move into
      ``data/``, so a crash pre-commit leaves only invisible orphans
      that ``vacuum`` collects. Physical deletes happen ONLY in
      ``vacuum`` (called by ``snapshot_rewrite``, same timing as the
      Parquet backend's old-copy removal) — overwrites and drops just
      change the manifest.

    Mode selection: a table this backend CREATES is manifest-managed
    end to end. A pre-existing plain directory — the hot LSM tier,
    whose files are written by the ingest/streaming path with its own
    L0-staging and file-sink commit protocols — keeps the inherited
    directory semantics; wrapping a manifest around files committed
    outside the log would be a lie. The transactional surface covers
    the PROTOCOL and DERIVED tables (purge log, cold snapshots,
    rollups, admission indexes), which is where multi-writer
    deployments need it.

    ``append_tables`` is the multi-table payoff: N member tables under
    one root appended in ONE log entry — all visible together or not
    at all (the streaming-admission output/digest/band triple)."""

    MAX_COMMIT_ATTEMPTS = 8

    #: a full-state checkpoint file is written every this many commits
    #: (the Delta default). Between checkpoints every entry is a
    #: delta, so reconstruction reads at most INTERVAL small entries
    #: plus one checkpoint, and commit writes are O(change).
    CHECKPOINT_INTERVAL = 10

    #: per-file column statistics are recorded for at most this many
    #: leading schema columns (the Delta ``dataSkippingNumIndexedCols``
    #: idiom) — wide tables index their leading columns, not all
    #: hundreds, keeping log entries small. A predicate on a column
    #: past the cap is SAFE but never prunes (no stat recorded) —
    #: order probe/clustering keys into the leading columns, or raise
    #: the cap per instance: ``ManifestCommit(stats_max_cols=64)``.
    STATS_MAX_COLS = 32

    def __init__(self, stats_max_cols: int | None = None):
        if stats_max_cols is not None:
            self.STATS_MAX_COLS = max(0, int(stats_max_cols))

    #: string min/max longer than this are NOT recorded (a truncated
    #: max would need round-up semantics to stay a safe bound; skipping
    #: the stat keeps pruning trivially correct and entries bounded).
    STATS_MAX_STR = 64

    # -- protocol plumbing -------------------------------------------------
    def _is_root(self, store, path: str) -> bool:
        return store.fs.is_dir(f"{path}/{LOG_DIR}")

    def _resolve(self, store, path: str):
        """(root, member) for a managed path; None if unmanaged.
        ``path`` is either a table root (member '') or ``root/member``."""
        if self._is_root(store, path):
            return path, ""
        parent = path.rsplit("/", 1)[0]
        if "/" in path and self._is_root(store, parent):
            return parent, path.rsplit("/", 1)[1]
        return None

    def _resolve_walk(self, store, path: str):
        """Walk UP from ``path`` to the nearest managed root (partition
        paths sit up to three levels below it). Returns (root, relpath)
        or None."""
        probe = path
        for _ in range(6):
            if self._is_root(store, probe):
                return probe, path[len(probe) + 1:]
            if "/" not in probe:
                break
            probe = probe.rsplit("/", 1)[0]
        return None

    def _target_for_write(self, store, path: str):
        """Manifest (root, member) for a mutation — creating the root
        for a brand-new table — or None for a pre-existing plain
        directory (directory mode, see class docstring). An existing
        but EMPTY directory (an mkdir side effect, not a data table)
        is manifest-creatable."""
        resolved = self._resolve(store, path)
        if resolved is not None:
            return resolved
        if store.fs.exists(path) and (
            not store.fs.is_dir(path) or store.fs.listdir(path)
        ):
            return None
        store.fs.makedirs(f"{path}/{LOG_DIR}")
        return path, ""

    def _list_log(self, store, root: str):
        """(entry versions, checkpoint versions), each sorted
        ascending. Checkpoint files (``{v}.checkpoint.json``) are a
        read-side acceleration, never part of the version sequence."""
        evs: list[int] = []
        cps: list[int] = []
        for name in store.fs.listdir(f"{root}/{LOG_DIR}"):
            if name.endswith(CHECKPOINT_SUFFIX):
                stem = name[: -len(CHECKPOINT_SUFFIX)]
                if stem.isdigit():
                    cps.append(int(stem))
            elif name.endswith(".json") and name[:-5].isdigit():
                evs.append(int(name[:-5]))
        return sorted(evs), sorted(cps)

    @staticmethod
    def _apply_entry(state: dict, entry: dict) -> None:
        """Fold one log entry (full or delta form) or checkpoint into
        a reconstruction ``state`` ({'tables','stats','app'}). A full
        entry RESETS the state (it is self-describing — the pre-delta
        format, and the checkpoint format); a delta entry applies its
        removes then its adds, keeping per-member file ORDER exactly
        as the committer's mutate produced it (removals filter in
        place, additions extend at the tail — the only shapes
        ``_commit`` certifies as delta-expressible)."""
        if "tables" in entry:
            state["tables"] = {
                m: list(fs) for m, fs in entry["tables"].items()
            }
            state["stats"] = {
                m: dict(s) for m, s in entry.get("stats", {}).items()
            }
            state["app"] = dict(entry.get("app", {}))
            return
        delta = entry.get("delta", {})
        for m, files in delta.get("remove", {}).items():
            gone = set(files)
            state["tables"][m] = [
                f for f in state["tables"].get(m, []) if f not in gone
            ]
            mstats = state["stats"].get(m)
            if mstats:
                for f in files:
                    mstats.pop(f, None)
        for m, fmap in delta.get("add", {}).items():
            state["tables"].setdefault(m, []).extend(fmap.keys())
            for f, fstats in fmap.items():
                if fstats is not None:
                    state["stats"].setdefault(m, {})[f] = fstats
        # restat (r14, deletion vectors): replace an EXISTING file's
        # stats block in place — the op that attaches a DV reference
        # without touching the file list, O(changed files) per entry.
        # A file concurrently removed above simply has no stats slot
        # to fill (guarded at commit time; skipping here keeps replay
        # of historical chains total).
        for m, fmap in delta.get("restat", {}).items():
            listed = set(state["tables"].get(m, []))
            mstats = state["stats"].setdefault(m, {})
            for f, fstats in fmap.items():
                if f in listed:
                    mstats[f] = fstats
        state["app"].update(entry.get("app_add", {}))

    @staticmethod
    def _copy_state(state: dict) -> dict:
        """Two-level copy of a reconstruction state: callers may fold
        entries onto the returned dict (vacuum, version_history), so
        the cached original must stay untouched. Per-file stat blocks
        are shared read-only — nothing in the engine mutates them."""
        return {
            "tables": {m: list(fs) for m, fs in state["tables"].items()},
            "stats": {m: dict(s) for m, s in state["stats"].items()},
            "app": dict(state["app"]),
        }

    def _cache_get(self, store, root: str, version: int):
        sig = store.fs.stat_signature(
            f"{root}/{LOG_DIR}/{version:020d}.json"
        )
        if sig is None:
            return None
        key = (root, version, sig)
        with _RECON_CACHE_LOCK:
            state = _RECON_CACHE.get(key)
            return self._copy_state(state) if state is not None else None

    def _cache_put(self, store, root: str, version: int, state: dict):
        sig = store.fs.stat_signature(
            f"{root}/{LOG_DIR}/{version:020d}.json"
        )
        if sig is None:
            return
        key = (root, version, sig)
        with _RECON_CACHE_LOCK:
            if key not in _RECON_CACHE:
                _RECON_CACHE_ORDER.append(key)
                while len(_RECON_CACHE_ORDER) > _RECON_CACHE_MAX:
                    _RECON_CACHE.pop(_RECON_CACHE_ORDER.pop(0), None)
            _RECON_CACHE[key] = self._copy_state(state)

    def _reconstruct(
        self, store, root: str, version: int | None = None,
        label: str | None = None,
    ):
        """(version, {'tables','stats','app'}) at ``version`` (default
        newest); (-1, empty) for a never-committed root. Walks the log
        BACKWARD from the target collecting delta entries until it
        hits an anchor — a checkpoint file or a full entry — then
        applies the chain forward; with ``CHECKPOINT_INTERVAL``
        checkpoints the walk reads at most INTERVAL small deltas plus
        one checkpoint. A version whose chain needs a pruned entry
        raises ``VersionNotFoundError`` (``missing=True`` on the
        error when the entry file is absent — retention pruning or a
        racing vacuum — vs present-but-unreadable corruption).

        A MISSING entry mid-walk is retried with a fresh listing
        before surfacing: a racing vacuum prunes entries only after
        anchoring the oldest retained version with a checkpoint, so
        the re-walk finds the anchor the first listing predated —
        without the retry a reader could fail on a version that is
        perfectly retained."""
        last_err = None
        for _ in range(3):
            try:
                return self._reconstruct_once(store, root, version, label)
            except VersionNotFoundError as exc:
                if not getattr(exc, "missing", False):
                    raise
                last_err = exc
        raise last_err

    def _reconstruct_once(
        self, store, root: str, version: int | None = None,
        label: str | None = None,
    ):
        name = label if label is not None else root
        evs, cps = self._list_log(store, root)
        if version is None:
            if not evs:
                return -1, {"tables": {}, "stats": {}, "app": {}}
            version = evs[-1]
        cached = self._cache_get(store, root, version)
        if cached is not None:
            return version, cached
        cpset = set(cps)
        chain: list[dict] = []
        anchor: dict | None = None
        v = version
        while v >= 0:
            if v in cpset:
                try:
                    anchor = self._load_checkpoint(store, root, v)
                    break
                except Exception:
                    # checkpoint vanished (racing vacuum) or corrupt:
                    # the plain entry at this version still anchors or
                    # continues the chain — checkpoints only
                    # accelerate, never carry unique history
                    pass
            entry_path = f"{root}/{LOG_DIR}/{v:020d}.json"
            try:
                entry = json.loads(store.fs.read_text(entry_path))
            except Exception as exc:
                avail = [x for x in evs]
                lo = f"{avail[0]}..{avail[-1]}" if avail else "none"
                if store.fs.exists(entry_path):
                    err = VersionNotFoundError(
                        f"version {version} of {name!r} needs log "
                        f"entry {v}, which exists but is unreadable "
                        f"({type(exc).__name__}: {exc})"
                    )
                    err.missing = False
                    raise err from exc
                err = VersionNotFoundError(
                    f"version {version} of {name!r} is not "
                    f"reconstructible: entry {v} is not retained "
                    f"(vacuum prunes old snapshots; retained: {lo})"
                )
                err.missing = True
                raise err from exc
            chain.append(entry)
            if "tables" in entry:
                break  # full entry: self-describing anchor
            v -= 1
        state = {"tables": {}, "stats": {}, "app": {}}
        if anchor is not None:
            self._apply_entry(state, anchor)
        for entry in reversed(chain):
            self._apply_entry(state, entry)
        self._cache_put(store, root, version, state)
        return version, state

    def _changed_members_since(
        self, store, root: str, prev_v: int, version: int
    ) -> set | None:
        """Members whose file lists changed in ``(prev_v, version]``,
        from the delta entries alone — or None when the range contains
        a full (self-describing) entry, whose change cannot be
        attributed per member. O(interval) small reads."""
        touched: set = set()
        for v in range(prev_v + 1, version + 1):
            entry = json.loads(
                store.fs.read_text(f"{root}/{LOG_DIR}/{v:020d}.json")
            )
            if "tables" in entry:
                return None
            delta = entry.get("delta", {})
            touched |= set(delta.get("add", {}))
            touched |= set(delta.get("remove", {}))
            # a restat-only entry (DV attach) changes the member's
            # STATS while its file list stands still — reusing the
            # previous checkpoint part would resurrect the deleted
            # rows for any reader anchored on it
            touched |= set(delta.get("restat", {}))
        return touched

    def _write_checkpoint(
        self, store, root: str, version: int, tables, stats, app
    ) -> bool:
        """Best-effort full-state checkpoint at ``version`` — losers
        of the put-if-absent race and IO failures are harmless (the
        next interval or vacuum writes one); readers fall back to the
        entry chain either way.

        MEMBER-PART format (r13): the checkpoint manifest records one
        content-addressed part reference per member
        (``_log/parts/{sha}.json`` holding that member's file list +
        stats); a member unchanged since the previous checkpoint is
        REUSED by reference — neither serialized nor rewritten — so
        the every-INTERVAL write costs O(members that changed), not
        O(table). A ~100k-file member sitting next to a busy small
        member stops paying tens of MB of synchronous JSON every 10
        commits (the Delta multi-part / Iceberg manifest-list idea,
        keyed by content instead of position). Legacy single-blob
        checkpoints still load (``_load_checkpoint``)."""
        try:
            _, cps = self._list_log(store, root)
            prev_parts: dict = {}
            touched: set | None = None
            prev = max((c for c in cps if c < version), default=None)
            if prev is not None:
                try:
                    pm = json.loads(
                        store.fs.read_text(
                            f"{root}/{LOG_DIR}/{prev:020d}"
                            f"{CHECKPOINT_SUFFIX}"
                        )
                    )
                    prev_parts = pm.get("parts", {})
                    if prev_parts:
                        touched = self._changed_members_since(
                            store, root, prev, version
                        )
                except Exception:
                    prev_parts, touched = {}, None
            parts_dir = f"{root}/{LOG_DIR}/{PARTS_DIR}"
            store.fs.makedirs(parts_dir)
            refs: dict = {}
            for m, files in tables.items():
                if (
                    touched is not None
                    and m not in touched
                    and m in prev_parts
                    # touch, not exists: refreshing the reused part's
                    # mtime pulls it back inside vacuum's grace window
                    # (parts GC spares anything younger than grace),
                    # closing most of the reuse-vs-GC race; a part
                    # that cannot be touched is rewritten fresh, and
                    # the post-write self-check below catches the
                    # residual window
                    and store.fs.touch(
                        f"{parts_dir}/{prev_parts[m]}.json"
                    )
                ):
                    refs[m] = prev_parts[m]
                    continue
                part = json.dumps(
                    {
                        "member": m,
                        "files": list(files),
                        "stats": (stats or {}).get(m, {}),
                    },
                    sort_keys=True,
                )
                sha = hashlib.sha256(part.encode("utf-8")).hexdigest()[
                    :16
                ]
                ppath = f"{parts_dir}/{sha}.json"
                if not store.fs.exists(ppath):
                    store.fs.create_exclusive(ppath, part)
                refs[m] = sha
            manifest: dict = {
                "version": version,
                "ts_ms": _now_ms(),
                "parts": refs,
            }
            if app:
                manifest["app"] = app
            path = f"{root}/{LOG_DIR}/{version:020d}{CHECKPOINT_SUFFIX}"
            if not store.fs.create_exclusive(path, json.dumps(manifest)):
                return False
            # self-check: a racing vacuum may have GC'd a reused part
            # between the touch above and this manifest landing. A
            # checkpoint that exists but cannot load is worse than no
            # checkpoint (it shadows the working entry chain as a
            # prune anchor) — remove our own broken manifest.
            try:
                self._load_checkpoint(store, root, version)
            except Exception:
                store.fs.remove_file(path)
                return False
            return True
        except Exception:
            return False

    def _load_checkpoint(self, store, root: str, v: int) -> dict:
        """Load a checkpoint into anchor form ({'tables','stats',
        'app'} + version), assembling member parts for the r13 format
        and passing the legacy single-blob form through. Raises on any
        missing/corrupt piece — callers treat a failed load as
        'checkpoint absent' and fall back to the entry chain."""
        payload = json.loads(
            store.fs.read_text(
                f"{root}/{LOG_DIR}/{v:020d}{CHECKPOINT_SUFFIX}"
            )
        )
        if "tables" in payload or "parts" not in payload:
            return payload
        tables: dict = {}
        stats: dict = {}
        for m, sha in payload["parts"].items():
            part = json.loads(
                store.fs.read_text(
                    f"{root}/{LOG_DIR}/{PARTS_DIR}/{sha}.json"
                )
            )
            tables[m] = list(part["files"])
            if part.get("stats"):
                stats[m] = dict(part["stats"])
        out: dict = {
            "version": payload.get("version", v),
            "tables": tables,
        }
        if stats:
            out["stats"] = stats
        if payload.get("app"):
            out["app"] = payload["app"]
        return out

    def _read_entry_raw(self, store, root: str, v: int, label: str):
        """One raw log entry (full or delta form), with the typed
        error contract (``missing=True`` when the file is absent)."""
        entry_path = f"{root}/{LOG_DIR}/{v:020d}.json"
        try:
            return json.loads(store.fs.read_text(entry_path))
        except Exception as exc:
            if store.fs.exists(entry_path):
                err = VersionNotFoundError(
                    f"log entry {v} of {label!r} exists but is "
                    f"unreadable ({type(exc).__name__}: {exc})"
                )
                err.missing = False
                raise err from exc
            err = VersionNotFoundError(
                f"log entry {v} of {label!r} is not retained (vacuum "
                "prunes old snapshots)"
            )
            err.missing = True
            raise err from exc

    def _current_entry(self, store, root: str):
        """(version, reconstructed full entry dict); (-1, {}) if never
        committed. The one read-side seam every commit attempt and
        current-state read routes through (race-injection tests
        monkeypatch it)."""
        version, state = self._reconstruct(store, root, None)
        if version < 0:
            return -1, {}
        return version, {"version": version, **state}

    def _current(self, store, root: str):
        """(version, {member: [relpaths]}); (-1, {}) if never committed."""
        version, entry = self._current_entry(store, root)
        return version, entry.get("tables", {})

    @staticmethod
    def _hive_prefix_cols(relpath: str) -> tuple:
        """The hive partition-column names a member relpath encodes
        (``tag=x/part_start=0/f.parquet`` -> ("tag", "part_start");
        () for a flat file) — the per-file form of
        ``operators.merge.partition_cols_of``, used by the commit
        layout invariant."""
        return tuple(
            s.split("=", 1)[0]
            for s in relpath.split("/")[:-1]
            if "=" in s
        )

    def _commit(self, store, root: str, mutate) -> int:
        """Optimistic commit: re-reads the current manifest and retries
        ``mutate`` on every lost race, so the applied change is always
        derived from the state it lands on.

        Per-file column statistics ride along: a caller that staged new
        files attaches their stats as ``mutate.stats_add`` (a function
        attribute, so the three-arg seam tests monkeypatch stays
        valid); the committed entry carries the current stats map
        merged with the additions and PRUNED to exactly the files the
        new manifest lists — a rewrite/drop sheds its dead files' stats
        in the same atomic entry.

        Application metadata rides the same way (the Delta ``txn``
        action idiom): ``mutate.app_meta`` is a small dict merged into
        the entry's ``app`` map, and every commit CARRIES the current
        ``app`` map forward — an unrelated append can never wipe a
        consumer's cursor. Because the cursor and the data change land
        in ONE atomic entry, an incremental consumer that records its
        source position here is exactly-once by construction."""
        add = getattr(mutate, "stats_add", None) or {}
        app_add = getattr(mutate, "app_meta", None) or {}
        base_restat = getattr(mutate, "restat", None) or {}
        # restat_overlay (r15, ADVICE): {member: {file: {field: val}}}
        # merged PER-FIELD onto the file's stats block AS OF the entry
        # the commit lands on — a DV attach that rode a whole-block
        # restat would clobber a concurrent backfill_file_stats back
        # to plan-time values (rows: None), regressing skipping and
        # fast_count. Resolved inside the loop so every retry re-reads.
        overlay = getattr(mutate, "restat_overlay", None) or {}
        # staged-data constraint CAS (see _CONS_CAS): the staged rows
        # were validated against exactly these maps — a commit landing
        # on a different map would reference unvalidated (or
        # over-validated) files. Consumed ONLY by the commit that
        # actually ADDS the recorded staged files (r16: intersection
        # with the commit's added set, not mere file-list change), so
        # an interleaved metadata commit on the same thread (the
        # racing add_constraint itself, a cursor advance) — or any
        # later commit after a stage ABANDONED by an exception —
        # neither drains nor trips it.
        pend = getattr(_CONS_CAS, "map", None) or {}
        for attempt in range(self.MAX_COMMIT_ATTEMPTS):
            if attempt:
                # linear backoff so N racing committers don't lock-step
                # through the same version numbers
                time.sleep(0.05 * attempt)
            # ONE read+parse of the newest entry: tables, stats, and
            # the app map all come from the same snapshot — a second
            # read with a tolerant fallback could silently drop every
            # consumer cursor on a transient failure, and stats/app
            # must never diverge from the tables they describe.
            version, prev = self._current_entry(store, root)
            tables = prev.get("tables", {})
            cur_stats = prev.get("stats", {})
            cur_app = prev.get("app", {})
            guard = getattr(mutate, "entry_guard", None)
            if guard is not None:
                # CAS-style validation INSIDE the optimistic loop: the
                # guard sees the exact entry this commit would land on
                # (re-read on every retry), so a condition checked at
                # planning time (a consumer cursor, a key envelope)
                # cannot be invalidated by a commit that raced the
                # planner. A guard failure raises a typed error to the
                # caller — retrying here would re-read the same
                # now-violated state forever.
                guard(prev)
            new_tables = mutate(dict(tables))
            # layout-consistency invariant (r17, found via the INSERT
            # facade): every file of a member must encode the SAME
            # hive partition-column prefix — a flat file added to a
            # partitioned member is listed by the manifest but the
            # basePath partitioned read SILENTLY DROPS its rows, the
            # worst failure class. O(added files) per commit: only
            # files new to the member are checked, against the
            # member's first listed file.
            for m, fs in new_tables.items():
                if not fs:
                    continue
                ref = self._hive_prefix_cols(fs[0])
                old_set = set(tables.get(m, ()))
                bad = next(
                    (
                        f for f in fs
                        if f not in old_set
                        and self._hive_prefix_cols(f) != ref
                    ),
                    None,
                )
                if bad is not None:
                    raise ValidationError(
                        f"commit to member {m!r} mixes partition "
                        f"layouts: {bad!r} vs the member's "
                        f"{ref or ['<flat>']} hive prefix — a "
                        "mixed-depth member silently drops rows "
                        "under partitioned reads. Write through "
                        "append_partitioned / overwrite_partitions "
                        "(or replace the WHOLE member to change "
                        "layout)"
                    )
            touched = [
                (r, m)
                for (r, m) in list(pend)
                if r == root
                and pend[(r, m)][1].intersection(
                    set(new_tables.get(m, []))
                    - set(tables.get(m, []))
                )
            ]
            for key_rm in touched:
                exp = pend[key_rm][0]
                m = key_rm[1]
                cur = prev.get("app", {}).get(self._constraint_key(m))
                if (dict(cur) if cur else None) != exp:
                    pend.pop(key_rm, None)  # consumed by this failure
                    raise RewriteConflictError(
                        f"CHECK constraints of member {m!r} changed "
                        f"between staging and commit ({exp!r} -> "
                        f"{cur!r}); the staged rows were validated "
                        "against the old map — re-stage on fresh state"
                    )
            restat = {m: dict(fmap) for m, fmap in base_restat.items()}
            for m, fmap in overlay.items():
                tgt = restat.setdefault(m, {})
                for f, fields in fmap.items():
                    cur = dict(
                        cur_stats.get(m, {}).get(f)
                        or {"rows": None, "cols": {}}
                    )
                    cur.update(fields)
                    tgt[f] = cur
            merged = {
                m: {
                    **cur_stats.get(m, {}),
                    **add.get(m, {}),
                    **restat.get(m, {}),
                }
                for m in set(new_tables) | set(add) | set(restat)
            }
            # hoist the per-member file sets OUT of the inner
            # comprehension (r15, found by the 100k-file log probe):
            # rebuilding the set per stats entry made every commit
            # O(files²) — 115 s for one tiny append on a 50k-file
            # member; hoisted it is O(files)
            listed = {m: set(fs) for m, fs in new_tables.items()}
            stats_out = {
                m: {
                    f: s
                    for f, s in merged.get(m, {}).items()
                    if f in listed.get(m, ())
                }
                for m in merged
            }
            stats_out = {m: v for m, v in stats_out.items() if v}
            app_out = {**cur_app, **app_add}
            payload: dict = {
                "version": version + 1,
                "ts_ms": _now_ms(),
            }
            # Express the commit as a DELTA when the new state is
            # old-minus-removed + added-at-tail per member (every
            # mutation this class performs) — the entry then costs
            # O(change) to write and store instead of re-serializing
            # the whole table's file lists + stats. Any other shape
            # (a mutate that reorders or drops a member key) falls
            # back to the self-describing full form, which doubles as
            # a reconstruction anchor.
            delta_add: dict = {}
            delta_rm: dict = {}
            expressible = set(tables) <= set(new_tables)
            if expressible:
                for m, new in new_tables.items():
                    old = tables.get(m, [])
                    olds, news = set(old), set(new)
                    removed = [f for f in old if f not in news]
                    added = [f for f in new if f not in olds]
                    gone = set(removed)
                    if [f for f in old if f not in gone] + added != list(
                        new
                    ):
                        expressible = False
                        break
                    if removed:
                        delta_rm[m] = removed
                    if added:
                        delta_add[m] = {
                            f: stats_out.get(m, {}).get(f) for f in added
                        }
            change_meta = getattr(mutate, "change_meta", None)
            if expressible:
                payload["delta"] = {"add": delta_add, "remove": delta_rm}
                if restat:
                    # restat blocks for files still listed (one dropped
                    # concurrently is covered by the add/remove diff);
                    # the committed stats_out already carries them
                    rs = {
                        m: {
                            f: stats_out.get(m, {}).get(f)
                            for f in fmap
                            if f in listed.get(m, ())
                        }
                        for m, fmap in restat.items()
                    }
                    rs = {m: v for m, v in rs.items() if v}
                    if rs:
                        payload["delta"]["restat"] = rs
                if app_add:
                    payload["app_add"] = app_add
                if change_meta:
                    payload["change"] = dict(change_meta)
            else:
                payload["tables"] = new_tables
                if stats_out:
                    payload["stats"] = stats_out
                if app_out:
                    payload["app"] = app_out
                if change_meta:
                    payload["change"] = dict(change_meta)
            entry = json.dumps(payload)
            target = f"{root}/{LOG_DIR}/{version + 1:020d}.json"
            if store.fs.create_exclusive(target, entry):
                for key_rm in touched:
                    pend.pop(key_rm, None)  # staged files landed
                n = version + 1
                # seed the reconstruction cache with the state just
                # committed: the next read or commit attempt resolves
                # this version without replaying the entry chain —
                # steady-state commit/read cycles do O(1) log IO
                self._cache_put(
                    store, root, n,
                    {"tables": new_tables, "stats": stats_out,
                     "app": app_out},
                )
                if n > 0 and n % self.CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(
                        store, root, n, new_tables, stats_out, app_out
                    )
                return n
        raise ConcurrentMaintenanceError(
            f"lost {self.MAX_COMMIT_ATTEMPTS} optimistic-commit races on "
            + root
        )

    #: hive sentinel for a NULL partition value — carries no orderable
    #: value, so no min/max stat is recorded for it (the file is simply
    #: never pruned on that column)
    HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

    #: characters Spark's ``ExternalCatalogUtils.escapePathName`` hex-
    #: escapes in a partition directory name, plus NUL (Spark leaves
    #: it raw, but no filesystem path can hold it, so ``%00`` keeps a
    #: NUL-bearing value writable and ``_unescape_partition`` reads it
    #: back)
    _PARTITION_ESCAPE = frozenset('"#%\'*/:=?\\{[]^\x7f') | {
        chr(i) for i in range(32)
    }

    @staticmethod
    def _escape_partition_value(s: str) -> str:
        """Spark's partition-path escaping: the directory-name text
        Spark's own ``partitionBy`` writes for the non-empty string
        value ``s``, NUL aside (see ``_PARTITION_ESCAPE``). The
        connector writer and the store's per-tag partition reads both
        build paths with it. ``_unescape_partition`` inverts it."""
        return "".join(
            f"%{ord(c):02X}" if c in ManifestCommit._PARTITION_ESCAPE else c
            for c in s
        )

    @staticmethod
    def _unescape_partition(raw: str) -> str:
        """Inverse of Spark's partition-path escaping
        (``ExternalCatalogUtils.unescapePathName``): the reserved
        characters — ``:/#%=`` and friends — are written as ``%XX``
        hex codes in the directory name, and ``%`` itself is escaped
        as ``%25``, so every well-formed ``%XX`` decodes to exactly
        one character. Recording the RAW segment as a stat would
        compare escaped text against predicates built from real
        column values (``'a:b'`` vs stat ``'a%3Ab'``) and could PROVE
        a false non-overlap — wrongly pruning files that do hold
        matching rows. A ``%`` not followed by two hex digits (a path
        written by some other tool) is kept literally."""
        if "%" not in raw:
            return raw
        out: list[str] = []
        i, n = 0, len(raw)
        while i < n:
            ch = raw[i]
            if (
                ch == "%"
                and i + 2 < n
                and raw[i + 1] in "0123456789abcdefABCDEF"
                and raw[i + 2] in "0123456789abcdefABCDEF"
            ):
                out.append(chr(int(raw[i + 1: i + 3], 16)))
                i += 3
            else:
                out.append(ch)
                i += 1
        return "".join(out)

    @staticmethod
    def _stat_value(v, max_str: int, side: str | None = None):
        """JSON-safe stat scalar, or None when the type has no safe
        total order across the JSON round-trip (nested, undecodable
        bytes) or the string exceeds the recorded bound.

        Temporal values are TYPE-TAGGED so they survive the JSON
        round-trip in total order: a timestamp becomes
        ``{"ts": epoch_micros}`` (naive = UTC; aware converted), a
        date becomes ``{"d": proleptic_ordinal}`` — without this a
        predicate on a raw TimestampType column could never prune
        (the r11 gap). Decimals widen to the enclosing float bound
        (``side`` says which way to round), staying a superset-safe
        plain number."""
        import datetime
        import decimal
        import math

        if isinstance(v, bool) or v is None:
            return None  # bool min/max never prunes anything useful
        if isinstance(v, int) or isinstance(v, float):
            return v
        if isinstance(v, decimal.Decimal):
            f = float(v)
            if side == "min" and f > v:
                f = math.nextafter(f, -math.inf)
            elif side == "max" and f < v:
                f = math.nextafter(f, math.inf)
            return f
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            micros = (
                v - datetime.datetime(1970, 1, 1)
            ) // datetime.timedelta(microseconds=1)
            return {"ts": micros}
        if isinstance(v, datetime.date):
            return {"d": v.toordinal()}
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, str) and len(v) <= max_str:
            return v
        return None

    @staticmethod
    def _norm_scalar(v):
        """Normalize a stat value (possibly type-tagged) or a
        predicate value (possibly a live datetime/date/Decimal) to a
        ``(kind, orderable)`` pair; None for unorderable values. Two
        values compare iff their kinds match — cross-kind comparisons
        answer 'cannot prove', so pruning stays superset-safe under
        any schema drift."""
        import datetime
        import decimal

        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, dict):
            if set(v) == {"ts"}:
                return ("ts", v["ts"])
            if set(v) == {"d"}:
                return ("d", v["d"])
            return None
        if isinstance(v, (int, float, decimal.Decimal)):
            return ("n", v)
        if isinstance(v, str):
            return ("s", v)
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            return (
                "ts",
                (v - datetime.datetime(1970, 1, 1))
                // datetime.timedelta(microseconds=1),
            )
        if isinstance(v, datetime.date):
            return ("d", v.toordinal())
        return None

    #: footer reads of one commit's staged files run in a small thread
    #: pool (pyarrow releases the GIL on IO) — serial per-file driver
    #: reads were a measurable stall on many-file commits (r11 bench).
    STATS_READ_THREADS = 8

    def _one_file_stats(self, base: str, rel: str):
        """Stats block for one staged file (path-derived partition
        values + parquet footer min/max/nulls), or None."""
        import pyarrow.parquet as pq

        colstats: dict = {}
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                k, raw = seg.split("=", 1)
                raw = self._unescape_partition(raw)
                if raw == self.HIVE_NULL:
                    continue  # NULL partition: no orderable stat
                val: object = raw
                try:
                    val = int(raw)
                except ValueError:
                    try:
                        val = float(raw)
                    except ValueError:
                        pass
                v = self._stat_value(val, self.STATS_MAX_STR)
                if v is not None:
                    colstats[k] = {"min": v, "max": v, "nulls": 0}
        try:
            pf = pq.ParquetFile(f"{base}/{rel}")
            md = pf.metadata
            # nested-leaf skipping (r15): a leaf whose every ancestor
            # is a PLAIN STRUCT has footer min/max that truly bound
            # its values (dotted stats key = the physical path, same
            # convention as the nested schema mapping). Leaves under
            # list/map elements are excluded — their path encodes
            # repetition ("a.list.element") and membership-style
            # predicates don't reduce to a scalar range.
            struct_leaves = self._struct_leaf_paths(pf.schema_arrow)
            ncols = min(md.num_columns, self.STATS_MAX_COLS)
            agg: dict = {}
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(ncols):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if "." in name and name not in struct_leaves:
                        continue  # repeated-context leaf: no safe bound
                    cur = agg.setdefault(
                        name, {"min": None, "max": None, "nulls": 0,
                               "ok": True, "nulls_ok": True}
                    )
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        cur["ok"] = False
                        continue
                    # aggregate RAW footer values across row groups
                    # (timestamps order natively); encode to the
                    # JSON-safe, type-tagged form once at the end.
                    # The accessor itself can raise for physical
                    # types pyarrow cannot decode (Spark's
                    # fixed-len-byte-array decimals) — that must void
                    # only THIS column's stats, not the whole file's.
                    try:
                        mn, mx = st.min, st.max
                    except Exception:
                        cur["ok"] = False
                        continue
                    if mn is None or mx is None:
                        cur["ok"] = False
                        continue
                    try:
                        cur["min"] = (
                            mn if cur["min"] is None
                            else min(cur["min"], mn)
                        )
                        cur["max"] = (
                            mx if cur["max"] is None
                            else max(cur["max"], mx)
                        )
                    except TypeError:
                        cur["ok"] = False
                        continue
                    if st.null_count is not None:
                        cur["nulls"] += st.null_count
                    else:
                        # a footer without a null count makes the
                        # file's total UNKNOWN, not zero — consumers
                        # that need exactness (fast_count's
                        # all-rows-match proof) must see None here
                        cur["nulls_ok"] = False
            for name, cur in agg.items():
                if not (cur["ok"] and cur["min"] is not None):
                    continue
                mn = self._stat_value(
                    cur["min"], self.STATS_MAX_STR, side="min"
                )
                mx = self._stat_value(
                    cur["max"], self.STATS_MAX_STR, side="max"
                )
                if mn is None or mx is None:
                    continue
                colstats[name] = {
                    "min": mn,
                    "max": mx,
                    "nulls": (
                        cur["nulls"] if cur["nulls_ok"] else None
                    ),
                }
            return {"rows": md.num_rows, "cols": colstats}
        except Exception:
            # footer unreadable through this seam: keep any
            # path-derived stats, with unknown row count
            return {"rows": None, "cols": colstats} if colstats else None

    @staticmethod
    def _struct_leaf_paths(schema) -> set:
        """Dotted paths of leaves reachable through PLAIN STRUCTS only
        (no list/map ancestry) in an Arrow schema — the columns whose
        parquet footer min/max are safe scalar bounds (r15)."""
        import pyarrow as pa

        out: set = set()

        def walk(prefix, typ):
            for i in range(typ.num_fields):
                f = typ.field(i)
                p = f"{prefix}.{f.name}"
                if pa.types.is_struct(f.type):
                    walk(p, f.type)
                else:
                    out.add(p)

        for field in schema:
            if pa.types.is_struct(field.type):
                walk(field.name, field.type)
        return out

    def _file_stats(self, store, root: str, member: str, files) -> dict:
        """Per-file ``{"rows": n, "cols": {column: {min, max, nulls}}}``
        from the parquet footers of freshly staged files (driver-side,
        one footer read per file, parallelized across a small thread
        pool — the same cost profile as Delta's stats-on-write;
        commits stage a handful of files, never the whole table). Hive
        partition path segments (``col=val``) become exact min==max
        stats, so partition-valued predicates prune too; a zero-row
        file records ``rows: 0`` and is unconditionally prunable.
        Temporal columns record type-tagged stats (see
        ``_stat_value``), so TimestampType predicates prune. Stats are
        strictly an optimization: any failure records nothing, and a
        file without stats is never pruned."""
        try:
            import pyarrow.parquet  # noqa: F401
        except Exception:
            return {}
        files = list(files)
        base = self._member_root(root, member)
        out: dict = {}
        if len(files) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(self.STATS_READ_THREADS, len(files))
            ) as pool:
                results = list(
                    pool.map(
                        lambda rel: self._one_file_stats(base, rel),
                        files,
                    )
                )
        else:
            results = [self._one_file_stats(base, rel) for rel in files]
        for rel, block in zip(files, results):
            if block is not None:
                out[rel] = block
        return {member: out} if out else {}

    def _member_root(self, root: str, member: str) -> str:
        return f"{root}/{DATA_DIR}/{member}" if member else f"{root}/{DATA_DIR}"

    def _walk_parquet(self, store, base: str, rel: str = "") -> list[str]:
        out: list[str] = []
        full = f"{base}/{rel}" if rel else base
        if not store.fs.exists(full):
            return out
        try:
            names = sorted(store.fs.listdir(full))
        except OSError:
            return out  # racing vacuum removed the dir mid-walk
        for name in names:
            child_rel = f"{rel}/{name}" if rel else name
            if store.fs.is_dir(f"{base}/{child_rel}"):
                out.extend(self._walk_parquet(store, base, child_rel))
            elif name.endswith(".parquet"):
                out.append(child_rel)
        return out

    def _stage_in(self, store, root: str, member: str, write_fn) -> list[str]:
        """Run ``write_fn(tmp_dir)`` (a Spark write), then move its
        parquet files into the member's data root, keeping partition
        subpaths and uniquifying file names. Returns the new relpaths —
        invisible until a manifest entry references them."""
        token = uuid.uuid4().hex[:12]
        stage = f"{root}/{STAGE_DIR}/{token}"
        write_fn(stage)
        dest_root = self._member_root(root, member)
        moved = []
        for rel in self._walk_parquet(store, stage):
            parts = rel.rsplit("/", 1)
            new_rel = (
                f"{parts[0]}/{token}-{parts[1]}"
                if len(parts) == 2
                else f"{token}-{rel}"
            )
            dest = f"{dest_root}/{new_rel}"
            store.fs.makedirs(dest.rsplit("/", 1)[0])
            store.fs.rename(f"{stage}/{rel}", dest)
            moved.append(new_rel)
        store.fs.remove_tree(stage)
        return moved

    @staticmethod
    def _partition_prefix(rel: str, n_cols: int) -> str | None:
        segs = rel.split("/")
        if len(segs) <= n_cols:
            return None
        return "/".join(segs[:n_cols])

    # -- TableCommit operations --------------------------------------------
    def append_rows(self, store, rows, schema, path: str) -> None:
        target = self._target_for_write(store, path)
        if target is None:
            return super().append_rows(store, rows, schema, path)
        root, member = target
        table = _driver_arrow_table(rows, schema)
        if table is not None and not self.schema_meta(store, path):
            # unmapped member + exact-scalar schema: stage the bounded
            # protocol-metadata batch DRIVER-SIDE (r18 — see the
            # directory backend's append_rows); the staged file goes
            # through the same constraint gate and stats derivation
            def driver_write(tmp):
                store.fs.makedirs(tmp)
                _driver_parquet_file(table, f"{tmp}/part-00000.snappy.parquet")

            files = self._stage_data(store, root, member, driver_write)
            mutate = lambda t: {**t, member: t.get(member, []) + files}  # noqa: E731
            mutate.stats_add = self._file_stats(store, root, member, files)
            self._commit(store, root, mutate)
            return
        rdd = store.spark.sparkContext.parallelize(rows, 1)
        df = self._to_physical(
            store, root, member, store.spark.createDataFrame(rdd, schema)
        )
        files = self._stage_data(
            store, root, member,
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        mutate = lambda t: {**t, member: t.get(member, []) + files}  # noqa: E731
        mutate.stats_add = self._file_stats(store, root, member, files)
        self._commit(store, root, mutate)

    def append_partitioned(self, store, df, path, partition_cols,
                           app_meta=None, expected_app=None) -> None:
        """Partitioned append as one manifest commit. ``app_meta``
        merges into the entry's ``app`` map ATOMICALLY with the files
        and ``expected_app`` CASes on the keys' planning-time values —
        the Delta ``txn`` idiom on the partitioned write path, so
        ``copy_into`` commits its load cursor in the same entry as the
        loaded files of a hive-partitioned target."""
        target = self._target_for_write(store, path)
        if target is None:
            return super().append_partitioned(
                store, df, path, partition_cols,
                app_meta=app_meta, expected_app=expected_app,
            )
        root, member = target
        df = self._to_physical(store, root, member, df)
        files = self._stage_data(
            store, root, member,
            lambda tmp: (
                df.write.mode("overwrite")
                .partitionBy(*partition_cols)
                .parquet(tmp)
            ),
        )
        mutate = lambda t: {**t, member: t.get(member, []) + files}  # noqa: E731
        mutate.stats_add = self._file_stats(store, root, member, files)
        if app_meta:
            mutate.app_meta = dict(app_meta)
        if expected_app is not None:
            mutate.entry_guard = self._app_cas_guard(expected_app)
        self._commit(store, root, mutate)

    def overwrite_partitions(self, store, df, path, partition_cols,
                             cdf_df=None, drop_prefixes=None) -> None:
        """Dynamic partition overwrite as one manifest commit.

        ``cdf_df``, if given, stages row-level change files (typed
        with ``CDF_TYPE_COL``) ATOMICALLY with the overwrite and marks
        the entry ``kind: "cdf"`` so ``read_row_changes`` serves them
        — the hook LWW compaction and purge-ack use to tell keyed
        mirrors exactly which rows were removed (compaction's winners
        are content-identical, so its feed nets to pure deletes)
        instead of forcing a full resync. Without it the entry is an
        unmarked rewrite and row-feed consumers over the range resync
        — the safe default for a content-changing overwrite.

        ``drop_prefixes`` (member-relative partition dirs, e.g.
        ``["tag=a/part_start=0"]``) removes FULLY-EMPTIED partitions'
        files in the same entry — dynamic overwrite only replaces
        partitions present in ``df``, so without this an eviction that
        empties a partition needs a second commit and the feed sees a
        torn change. ``df`` may be None when every affected partition
        emptied (pure drop + change rows)."""
        target = self._target_for_write(store, path)
        if target is None:
            return super().overwrite_partitions(
                store, df, path, partition_cols
            )
        root, member = target
        if df is not None:
            df = self._to_physical(store, root, member, df)
        files = (
            self._stage_data(
                store, root, member,
                lambda tmp: (
                    df.write.mode("overwrite")
                    .partitionBy(*partition_cols)
                    .parquet(tmp)
                ),
            )
            if df is not None
            else []
        )
        n = len(partition_cols)
        new_parts = {self._partition_prefix(f, n) for f in files}
        new_parts.discard(None)
        drops = tuple(drop_prefixes or [])
        change = (
            self._stage_cdf(store, root, member, cdf_df, None)
            if cdf_df is not None
            else None
        )

        def mutate(tables):
            old = tables.get(member, [])
            kept = [
                f for f in old
                if self._partition_prefix(f, n) not in new_parts
                and not any(
                    f == p or f.startswith(p + "/") for p in drops
                )
            ]
            return {**tables, member: kept + files}

        mutate.stats_add = self._file_stats(store, root, member, files)
        if change:
            mutate.change_meta = change
        self._commit(store, root, mutate)

    def driver_table_files(self, store, path: str) -> None:
        """None: a version-logged table's directory also holds files a
        newer version superseded, and its live files may carry deletion
        vectors or a column mapping, which only ``read_table`` applies."""
        return None

    def drop_partition_dir(self, store, path: str) -> None:
        found = self._resolve_walk(store, path)
        if found is None:
            return super().drop_partition_dir(store, path)
        root, rel = found
        _, tables = self._current(store, root)
        member = ""
        if rel.split("/", 1)[0] in tables:
            member, rel = rel.split("/", 1)

        def mutate(tables):
            old = tables.get(member, [])
            return {
                **tables,
                member: [
                    f for f in old
                    if f != rel and not f.startswith(rel + "/")
                ],
            }

        self._commit(store, root, mutate)

    def snapshot_rewrite(
        self, store, path: str, write_snapshot,
        change: dict | None = None,
    ) -> None:
        """Compaction: stage the snapshot, commit a manifest that
        references ONLY it, vacuum files past the retention horizon.
        ``change={"kind": "preserve"}`` declares a content-identical
        rewrite that change feeds skip (Z-order full passes); the LWW
        compaction leaves it unset — its rewrite changes row content,
        so incremental consumers must resync.

        Conflict DETECTION, not blind replacement: the member's file
        list is captured before the snapshot source is read, and the
        commit raises ``ConcurrentMaintenanceError`` if the list the
        commit would land on differs — a concurrent append (e.g. the
        streaming admission sink, which commits leaseless) would
        otherwise be silently dropped from the manifest and then
        vacuumed: a lost update plus data loss. This is the Delta-style
        rewrite/append conflict rule; the caller retries the whole
        rewrite on fresh state. ``overwrite_partitions`` needs no such
        check — its mutate re-derives from current state.

        The trailing vacuum keeps the default retention margin (files
        of every retained log version), so a reader that resolved the
        pre-rewrite snapshot keeps scanning valid files — the snapshot
        isolation the class docstring advertises."""
        target = self._target_for_write(store, path)
        if target is None:
            return super().snapshot_rewrite(store, path, write_snapshot)
        root, member = target
        _, tables0 = self._current(store, root)
        base = list(tables0.get(member, []))
        files = self._stage_data(store, root, member, write_snapshot)

        def mutate(tables):
            if list(tables.get(member, [])) != base:
                raise RewriteConflictError(
                    f"snapshot_rewrite of {path!r} conflicts with a "
                    "concurrent commit to the same member; retry the "
                    "rewrite on fresh state"
                )
            return {**tables, member: files}

        mutate.stats_add = self._file_stats(store, root, member, files)
        if change:
            mutate.change_meta = dict(change)
        self._commit(store, root, mutate)
        self.vacuum(store, root)

    # -- schema evolution (r13) ---------------------------------------------
    #
    # The Delta column-mapping idiom on the app map: physical file
    # schemas NEVER change; a per-member ``__schema__:{member}`` app
    # entry records the logical view — ``map`` (logical name ->
    # physical name; rename is one metadata commit) and ``widen``
    # (logical name -> read-side cast: int->long, float->double; old
    # files keep their narrow type, new writes land widened). Readers
    # assemble the logical view; appends translate logical -> physical
    # so every file stays physically consistent; stats/pruning
    # translate predicates to physical names (superset-safe: kind
    # normalization already unifies numeric widths). Row-level
    # rewrites (merge/delete, r14) work THROUGH the mapping: the
    # merge plans in the logical view, translates its replacement
    # rows and CDF rows to physical names before staging, and prunes
    # with physical-translated predicates — physical names are
    # immutable under rename, so a rename racing a merge is benign.
    # Physical-name-preserving maintenance (compact_small_files,
    # Z-order) reads and rewrites physical, widen-forced.

    @staticmethod
    def _schema_key(member: str) -> str:
        return f"__schema__:{member}"

    def schema_meta(self, store, path: str) -> dict:
        """The member's logical-view metadata ({"map": ..., "widen":
        ...}; {} when unmapped or unmanaged)."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return {}
        root, member = resolved
        _, entry = self._current_entry(store, root)
        return entry.get("app", {}).get(self._schema_key(member)) or {}

    def _physical_scan(self, store, base: str, files, meta):
        """Scan of a mapped member's files under PHYSICAL names,
        widen- and mixed-presence-safe: with a widen in play the
        member legitimately mixes physical widths (old files narrow,
        post-widen files wide), so inference from one footer would
        fail on the other generation — force an explicit physical
        schema with the widened types (Spark 4's parquet reader
        upcasts int->long / float->double at scan). Columns recorded
        in ``phys_types`` (synthetic physical names minted by
        dropped-name reuse, r14) are forced into the schema too, so
        files written BEFORE the column existed read it as NULL
        regardless of which footer inference sampled."""
        from pyspark.sql import types as T

        paths = [f"{base}/{f}" for f in files]
        reader = store.spark.read.option("basePath", base)
        df = reader.parquet(*paths)
        widen = meta.get("widen", {})
        phys_types = meta.get("phys_types", {})
        nested = meta.get("nested", {})
        # nested widen (r15): the member legitimately mixes struct
        # LEAF widths across file generations — force the widened
        # leaf type so the sampled footer's width never misreads the
        # other generation. Nested remint (r16) forces the same way:
        # the reminted leaf must be in the scan schema even when
        # inference sampled a pre-re-add footer, or every file would
        # lose the column.
        nested_widen = any(
            s.get("widen") or s.get("phys_types")
            for s in nested.values()
        )
        present = {f.name for f in df.schema.fields}
        missing = {p: t for p, t in phys_types.items() if p not in present}
        if widen or missing or nested_widen:
            wide = {"long": T.LongType(), "double": T.DoubleType()}
            inv = {p: l for l, p in meta.get("map", {}).items()}

            def field_type(f):
                if inv.get(f.name, f.name) in widen:
                    return wide[widen[inv.get(f.name, f.name)]]
                if (
                    nested_widen
                    and self._nested_dispatchable(f.dataType)
                    and self._nested_under(nested, f.name)
                ):
                    return self._nested_forced_type(
                        f.dataType, f.name, nested
                    )
                return f.dataType

            forced = T.StructType(
                [
                    T.StructField(f.name, field_type(f), f.nullable)
                    for f in df.schema.fields
                ]
                + [
                    T.StructField(
                        p,
                        wide[widen[inv[p]]]
                        if inv.get(p) in widen
                        else T._parse_datatype_string(t),
                        True,
                    )
                    for p, t in sorted(missing.items())
                ]
            )
            df = (
                store.spark.read.option("basePath", base)
                .schema(forced)
                .parquet(*paths)
            )
        return df

    @staticmethod
    def _ddl_type_simple(ddl: str):
        """Session-free parse of a SIMPLE ddl type (the connector's
        planner process has no SparkContext, so
        ``T._parse_datatype_string`` is off-limits on shared paths).
        Returns None for anything non-atomic — nested remint refuses
        those types at mint time, so None never reaches a scan."""
        import re as _re

        from pyspark.sql import types as T

        simple = {
            "tinyint": T.ByteType, "smallint": T.ShortType,
            "int": T.IntegerType, "integer": T.IntegerType,
            "bigint": T.LongType, "long": T.LongType,
            "float": T.FloatType, "double": T.DoubleType,
            "string": T.StringType, "boolean": T.BooleanType,
            "date": T.DateType, "timestamp": T.TimestampType,
            "timestamp_ntz": T.TimestampNTZType,
            "binary": T.BinaryType,
        }
        ddl = ddl.strip().lower()
        if ddl in simple:
            return simple[ddl]()
        m = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", ddl)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        return None

    @classmethod
    def _nested_forced_type(cls, dtype, phys_path, nested):
        """Physical type with nested-widened leaves forced to their
        wide type and REMINTED leaves (per-spec ``phys_types``, r16)
        forced present — names stay PHYSICAL; this is the scan
        schema, not the logical view. Dispatches through array
        elements / map values like every other nested walk."""
        from pyspark.sql import types as T

        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(
                cls._nested_forced_type(
                    dtype.elementType, f"{phys_path}.element", nested
                ),
                dtype.containsNull,
            )
        if isinstance(dtype, T.MapType):
            return T.MapType(
                dtype.keyType,
                cls._nested_forced_type(
                    dtype.valueType, f"{phys_path}.value", nested
                ),
                dtype.valueContainsNull,
            )
        if not isinstance(dtype, T.StructType):
            return dtype
        spec = nested.get(phys_path) or {}
        wmap = spec.get("widen", {})
        wide = {"long": T.LongType(), "double": T.DoubleType()}
        fields = []
        for f in dtype.fields:
            dt = f.dataType
            child = f"{phys_path}.{f.name}"
            if cls._nested_dispatchable(dt) and cls._nested_under(
                nested, child
            ):
                dt = cls._nested_forced_type(dt, child, nested)
            elif f.name in wmap:
                dt = wide[wmap[f.name]]
            fields.append(T.StructField(f.name, dt, f.nullable))
        # reminted leaves absent from this footer's struct (files
        # written BEFORE the re-add) read as NULL under the forced
        # schema — the nested analog of the top-level phys_types
        have = {f.name for f in fields}
        for pl, ddl in sorted(spec.get("phys_types", {}).items()):
            if pl in have:
                continue
            dt = cls._ddl_type_simple(ddl)
            if dt is not None:
                fields.append(T.StructField(pl, dt, True))
        return T.StructType(fields)

    def _mapped_scan(self, store, base: str, files, meta):
        """Physical scan of a mapped member assembled into the
        logical view (see ``_physical_scan`` / ``_logical_view``)."""
        return self._logical_view(
            self._physical_scan(store, base, files, meta), meta
        )

    @classmethod
    def _logical_view(cls, df, meta):
        """Physical scan -> logical view: inverse-rename mapped
        columns (top-level and nested struct fields, r15) and apply
        read-side widening casts."""
        return cls._logical_view_extra(df, meta, ())

    # -- nested-field schema evolution (r15; array/map elements r16) ----
    # The mapping metadata extends to STRUCT FIELDS: the ``nested``
    # component of the ``__schema__`` app value is keyed by the
    # PHYSICAL dotted path of the parent struct (physical paths are
    # immutable under rename, like top-level physical names) and holds
    # ``{"map": {logical_leaf: physical_leaf}, "drop":
    # [physical_leaf, ...]}``. Reads rebuild the struct column
    # (inverse-rename, dropped fields excluded, null structs stay
    # null); appends translate back to the physical leaf names — the
    # Delta nested-column-mapping idiom, metadata-only, zero data
    # files touched. Since r16 the path may cross REPETITION contexts
    # — structs under array elements (``items.element.price``) and map
    # VALUES (``attrs.value.price``) rename/drop the same way: the
    # spec key uses the parquet-style repetition segment (``.element``
    # / ``.value``), and reads rebuild through ``transform()`` /
    # ``transform_values()`` so the per-element structs reassemble
    # without ever exploding. A new field reusing a dropped leaf's
    # name REMINTS a synthetic physical leaf
    # (``_remint_nested_dropped`` — atomic types only). Remaining
    # walls, each loud with the rewrite remedy named: map KEYS refuse
    # (a key's fields are the map entry's identity), nested widen
    # refuses across repetition (a repeated leaf has no footer-stat
    # surface to keep mixed generations comparable), and a
    # non-atomic re-added leaf refuses (its type cannot be forced
    # into scan schemas session-free).

    @staticmethod
    def _nested_under(nested: dict, path: str) -> bool:
        """True when any nested-evolution spec applies at or below the
        physical ``path``."""
        pre = path + "."
        return any(k == path or k.startswith(pre) for k in nested)

    @classmethod
    def _nested_logical_any(cls, col, dtype, phys_path, nested):
        """Physical -> logical rebuild dispatched across TYPE
        contexts (r16): plain structs rebuild field-by-field; arrays
        rebuild their element through ``transform()`` (per-element,
        never exploded — the whole rebuild stays one codegen'd
        projection); map VALUES through ``transform_values()``. Map
        keys never dispatch — evolution under them refuses at the
        mutator (`_resolve_nested_path`)."""
        from pyspark.sql import functions as F, types as T

        if isinstance(dtype, T.StructType):
            return cls._nested_logical_col(col, dtype, phys_path, nested)
        if isinstance(dtype, T.ArrayType):
            ep = f"{phys_path}.element"
            return F.transform(
                col,
                lambda x: cls._nested_logical_any(
                    x, dtype.elementType, ep, nested
                ),
            )
        if isinstance(dtype, T.MapType):
            vp = f"{phys_path}.value"
            return F.transform_values(
                col,
                lambda k, v: cls._nested_logical_any(
                    v, dtype.valueType, vp, nested
                ),
            )
        return col

    @classmethod
    def _nested_physical_any(
        cls, col, dtype, phys_path, nested, logical_path
    ):
        """Logical -> physical write-shape dispatch (the append
        mirror of ``_nested_logical_any``)."""
        from pyspark.sql import functions as F, types as T

        if isinstance(dtype, T.StructType):
            return cls._nested_physical_col(
                col, dtype, phys_path, nested, logical_path
            )
        if isinstance(dtype, T.ArrayType):
            ep = f"{phys_path}.element"
            lp = f"{logical_path}.element"
            return F.transform(
                col,
                lambda x: cls._nested_physical_any(
                    x, dtype.elementType, ep, nested, lp
                ),
            )
        if isinstance(dtype, T.MapType):
            vp = f"{phys_path}.value"
            lp = f"{logical_path}.value"
            return F.transform_values(
                col,
                lambda k, v: cls._nested_physical_any(
                    v, dtype.valueType, vp, nested, lp
                ),
            )
        return col

    @classmethod
    def _nested_type_any(cls, dtype, phys_path, nested):
        """Physical type -> logical type dispatch (schema inference's
        analog of ``_nested_logical_any`` — no data involved)."""
        from pyspark.sql import types as T

        if isinstance(dtype, T.StructType):
            return cls._nested_struct_type(dtype, phys_path, nested)
        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(
                cls._nested_type_any(
                    dtype.elementType, f"{phys_path}.element", nested
                ),
                dtype.containsNull,
            )
        if isinstance(dtype, T.MapType):
            return T.MapType(
                dtype.keyType,
                cls._nested_type_any(
                    dtype.valueType, f"{phys_path}.value", nested
                ),
                dtype.valueContainsNull,
            )
        return dtype

    #: Spark types a nested spec can apply beneath (the dispatch gate
    #: every physical<->logical call site shares)
    @staticmethod
    def _nested_dispatchable(dtype) -> bool:
        from pyspark.sql import types as T

        return isinstance(dtype, (T.StructType, T.ArrayType, T.MapType))

    @classmethod
    def _nested_logical_col(cls, col, dtype, phys_path, nested):
        """Physical struct Column -> logical view: rebuild with
        inverse-renamed field names, dropped fields excluded, widened
        leaves cast (r15; ``widen`` keys by the immutable PHYSICAL
        leaf), recursing into struct/array/map children with deeper
        specs. A NULL struct row stays NULL (the rebuild is
        guarded)."""
        from pyspark.sql import functions as F

        spec = nested.get(phys_path) or {}
        inv = {p: l for l, p in spec.get("map", {}).items()}
        dropped = set(spec.get("drop", []))
        wmap = spec.get("widen", {})
        parts = []
        for f in dtype.fields:
            if f.name in dropped:
                continue
            child = col.getField(f.name)
            child_path = f"{phys_path}.{f.name}"
            if cls._nested_dispatchable(f.dataType) and cls._nested_under(
                nested, child_path
            ):
                child = cls._nested_logical_any(
                    child, f.dataType, child_path, nested
                )
            if f.name in wmap:
                child = child.cast(wmap[f.name])
            parts.append(child.alias(inv.get(f.name, f.name)))
        return F.when(col.isNotNull(), F.struct(*parts))

    @classmethod
    def _nested_physical_col(
        cls, col, dtype, phys_path, nested, logical_path
    ):
        """Logical struct Column (an append's shape) -> physical write
        shape: rename mapped leaves to their stable physical names.
        A field resolving to a DROPPED physical leaf is unreachable
        here post-remint (``_remint_nested_dropped`` minted a fresh
        synthetic leaf before translation, r16) — the raise below is
        the racing-evolution guard."""
        from pyspark.sql import functions as F, types as T

        spec = nested.get(phys_path) or {}
        nmap = spec.get("map", {})
        ndrop = set(spec.get("drop", []))
        wmap = spec.get("widen", {})
        targets = {p for l, p in nmap.items() if p != l}
        parts = []
        for f in dtype.fields:
            phys_leaf = nmap.get(f.name, f.name)
            if f.name not in nmap and phys_leaf in targets:
                # same collision rule as top-level columns: a NEW
                # field whose name is an existing field's PHYSICAL
                # name would alias its bytes
                raise ValidationError(
                    f"append to a schema-mapped member: new nested "
                    f"field {logical_path}.{f.name} collides with an "
                    "existing field's PHYSICAL name — pick a "
                    "different name (the mapping already targets it)"
                )
            if phys_leaf in ndrop:
                raise ValidationError(  # unreachable post-remint; guard
                    f"append to a schema-mapped member: nested field "
                    f"{logical_path}.{f.name} still resolves to a "
                    "DROPPED physical leaf after the remint — racing "
                    "schema evolutions; retry"
                )
            child = col.getField(f.name)
            child_path = f"{phys_path}.{phys_leaf}"
            if cls._nested_dispatchable(f.dataType) and cls._nested_under(
                nested, child_path
            ):
                child = cls._nested_physical_any(
                    child, f.dataType, child_path, nested,
                    f"{logical_path}.{f.name}",
                )
            if phys_leaf in wmap:
                # widened leaves store WIDE (one file never mixes
                # widths with its own stats), like top-level widen
                child = child.cast(wmap[phys_leaf])
            parts.append(child.alias(phys_leaf))
        return F.when(col.isNotNull(), F.struct(*parts))

    @classmethod
    def _nested_struct_type(cls, dtype, phys_path, nested):
        """Physical StructType -> logical StructType under the nested
        specs (schema inference's translation — no data involved)."""
        from pyspark.sql import types as T

        spec = nested.get(phys_path) or {}
        inv = {p: l for l, p in spec.get("map", {}).items()}
        dropped = set(spec.get("drop", []))
        wmap = spec.get("widen", {})
        wide = {"long": T.LongType(), "double": T.DoubleType()}
        fields = []
        for f in dtype.fields:
            if f.name in dropped:
                continue
            dt = f.dataType
            child_path = f"{phys_path}.{f.name}"
            if cls._nested_dispatchable(dt) and cls._nested_under(
                nested, child_path
            ):
                dt = cls._nested_type_any(dt, child_path, nested)
            elif f.name in wmap:
                dt = wide[wmap[f.name]]
            fields.append(
                T.StructField(inv.get(f.name, f.name), dt, f.nullable)
            )
        # reminted leaves (r16) may be absent from the sampled
        # footer's struct — force them into the logical shape from
        # their recorded simple type
        have = {f.name for f in dtype.fields}
        for pl, ddl in sorted(spec.get("phys_types", {}).items()):
            if pl in have or pl in dropped:
                continue
            dt = cls._ddl_type_simple(ddl)
            if dt is not None:
                fields.append(T.StructField(inv.get(pl, pl), dt, True))
        return T.StructType(fields)

    @staticmethod
    def _phys_dotted(meta: dict, dotted: str) -> str:
        """LOGICAL column path (possibly dotted) -> PHYSICAL stats
        key: the top-level map translates the first segment, the
        nested specs translate each deeper leaf — the key per-file
        stats and the nested schema mapping share (r15)."""
        segs = dotted.split(".")
        phys = meta.get("map", {}).get(segs[0], segs[0])
        nested = meta.get("nested", {})
        for seg in segs[1:]:
            spec = nested.get(phys) or {}
            phys = f"{phys}.{spec.get('map', {}).get(seg, seg)}"
        return phys

    def _resolve_nested_path(
        self, store, path: str, dotted: str, *, allow_repeated=True
    ):
        """Resolve a LOGICAL dotted field path against the member's
        current logical schema and mapping: returns ``(parent_phys
        dotted physical path, parent logical StructType, leaf logical
        name)``. Intermediate segments traverse plain structs by
        field name and — since r16 — REPETITION contexts by the
        parquet-style segment: ``element`` steps into an array's
        element, ``value`` into a map's values. Map KEYS refuse (a
        key's fields are the entry's identity — renaming or hiding
        one would alias distinct keys); callers that have no safe
        semantics under repetition (nested widen) pass
        ``allow_repeated=False``."""
        from pyspark.sql import types as T

        segs = dotted.split(".")
        if len(segs) < 2 or not all(segs):
            raise ValidationError(
                f"nested field path {dotted!r} must be "
                "parent.field[.field...]"
            )
        meta = self.schema_meta(store, path)
        nested = meta.get("nested", {})
        schema = self.read_table(store, path, None).schema
        by_name = {f.name: f for f in schema.fields}
        if segs[0] not in by_name:
            raise ValidationError(
                f"nested field path {dotted!r}: no column {segs[0]!r} "
                f"in {sorted(by_name)}"
            )
        cur = by_name[segs[0]].dataType
        phys_path = meta.get("map", {}).get(segs[0], segs[0])
        for seg in segs[1:-1]:
            if isinstance(cur, (T.ArrayType, T.MapType)):
                if not allow_repeated:
                    raise ValidationError(
                        f"nested field path {dotted!r}: crosses an "
                        "array/map element — this operation has no "
                        "safe semantics under repetition (rewrite "
                        "the member instead)"
                    )
                if isinstance(cur, T.ArrayType):
                    if seg != "element":
                        raise ValidationError(
                            f"nested field path {dotted!r}: "
                            f"{seg!r}'s parent is an ARRAY — step "
                            "into it with the 'element' segment "
                            "(e.g. 'items.element.price')"
                        )
                    cur = cur.elementType
                else:
                    if seg == "key":
                        raise ValidationError(
                            f"nested field path {dotted!r}: map KEY "
                            "fields are the entry's identity and "
                            "cannot evolve by mapping — rewrite"
                        )
                    if seg != "value":
                        raise ValidationError(
                            f"nested field path {dotted!r}: "
                            f"{seg!r}'s parent is a MAP — step into "
                            "its values with the 'value' segment "
                            "(e.g. 'attrs.value.price')"
                        )
                    cur = cur.valueType
                # repetition segments are structural, not renamable:
                # the physical path carries them verbatim
                phys_path = f"{phys_path}.{seg}"
                continue
            if not isinstance(cur, T.StructType):
                raise ValidationError(
                    f"nested field path {dotted!r}: {seg!r}'s parent "
                    "is not a struct/array/map"
                )
            fld = {f.name: f for f in cur.fields}.get(seg)
            if fld is None:
                raise ValidationError(
                    f"nested field path {dotted!r}: no field {seg!r} "
                    f"in {sorted(f.name for f in cur.fields)}"
                )
            spec = nested.get(phys_path) or {}
            phys_path = (
                f"{phys_path}.{spec.get('map', {}).get(seg, seg)}"
            )
            cur = fld.dataType
        if isinstance(cur, (T.ArrayType, T.MapType)):
            hint = (
                "'element' segment (e.g. "
                f"'{'.'.join(segs[:-1])}.element.{segs[-1]}')"
                if isinstance(cur, T.ArrayType)
                else "'value' segment (e.g. "
                f"'{'.'.join(segs[:-1])}.value.{segs[-1]}')"
            )
            raise ValidationError(
                f"nested field path {dotted!r}: {segs[-2]!r} is an "
                f"array/map — step into it with the {hint}"
            )
        if not isinstance(cur, T.StructType):
            raise ValidationError(
                f"nested field path {dotted!r}: {segs[-2]!r} is not a "
                "plain struct"
            )
        return phys_path, cur, segs[-1]

    @staticmethod
    def _apply_logical_schema(store, df, schema):
        """Project the logical view onto a caller-requested schema:
        cast present columns, null-fill absent ones (the additive-
        evolution contract, preserved across the mapping)."""
        from pyspark.sql import functions as F, types as T

        st = (
            schema
            if isinstance(schema, T.StructType)
            else T.StructType.fromDDL(schema)
        )
        present = set(df.columns)
        return df.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in present
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in st.fields
            ]
        )

    def _remint_dropped(
        self, store, root: str, member: str, dtypes: dict, reused
    ):
        """Dropped-name reuse (r14 — the Delta id-based column-mapping
        idiom on plain parquet): a NEW logical column whose name was
        previously dropped gets a fresh synthetic PHYSICAL name
        (``{name}__r{n}``) minted in a metadata-only CAS-guarded
        commit, so old files' bytes under the dropped physical name
        stay hidden forever and files written BEFORE the re-add read
        the new column as NULL — ``phys_types`` records its type so
        ``_physical_scan`` can force it into the scan schema
        regardless of which footer inference sampled. Returns the
        fresh schema meta; retries through racing evolutions.
        ``dtypes`` maps column name -> ddl string (``dict(df.dtypes)``
        shape) — session-free, so the connector's planner process can
        remint too (r16)."""
        key = self._schema_key(member)
        for _ in range(5):
            _, entry = self._current_entry(store, root)
            before = entry.get("app", {}).get(key)
            cur = before or {}
            mapping = dict(cur.get("map", {}))
            widen = dict(cur.get("widen", {}))
            dropped = list(cur.get("drop", []))
            ptypes = dict(cur.get("phys_types", {}))
            used = set(mapping.values()) | set(dropped) | set(ptypes)
            changed = False
            for c in reused:
                if mapping.get(c, c) not in set(dropped):
                    continue  # another writer already minted it
                n = 2
                while f"{c}__r{n}" in used:
                    n += 1
                phys = f"{c}__r{n}"
                mapping[c] = phys
                ptypes[phys] = dtypes.get(c, "string")
                used.add(phys)
                changed = True
            meta = self._schema_meta_dict(
                mapping, widen, dropped, ptypes,
                dict(cur.get("nested", {})),
            )
            if not changed:
                return meta
            mutate = lambda t: t  # noqa: E731 — metadata-only commit
            mutate.app_meta = {key: meta}
            mutate.entry_guard = self._app_cas_guard({key: before})
            try:
                self._commit(store, root, mutate)
                return meta
            except RewriteConflictError:
                continue  # racing schema evolution: re-read, retry
        raise RewriteConflictError(
            f"reusing dropped column name(s) {reused!r} on "
            f"{member or root!r}: could not land the physical remint "
            "past concurrent schema evolutions — retry the append"
        )

    @classmethod
    def _nested_reuse_sites(cls, schema, mapping, nested):
        """Walk an append's LOGICAL schema against the nested specs
        and collect ``(parent_phys, leaf, ddl)`` for every field whose
        name resolves to a DROPPED physical leaf — the nested remint's
        detection pass (r16). Recurses through structs, array
        elements, and map values wherever a spec applies."""
        from pyspark.sql import types as T

        out = []

        def walk(dt, phys_path):
            if isinstance(dt, T.ArrayType):
                walk(dt.elementType, f"{phys_path}.element")
                return
            if isinstance(dt, T.MapType):
                walk(dt.valueType, f"{phys_path}.value")
                return
            if not isinstance(dt, T.StructType):
                return
            spec = nested.get(phys_path) or {}
            nmap = spec.get("map", {})
            ndrop = set(spec.get("drop", []))
            for f in dt.fields:
                pl = nmap.get(f.name, f.name)
                if f.name not in nmap and pl in ndrop:
                    out.append(
                        (phys_path, f.name, f.dataType.simpleString())
                    )
                    continue
                child = f"{phys_path}.{pl}"
                if cls._nested_dispatchable(
                    f.dataType
                ) and cls._nested_under(nested, child):
                    walk(f.dataType, child)

        for f in schema.fields:
            phys = mapping.get(f.name, f.name)
            if cls._nested_dispatchable(
                f.dataType
            ) and cls._nested_under(nested, phys):
                walk(f.dataType, phys)
        return out

    def _remint_nested_dropped(self, store, root, member, reused):
        """Nested dropped-name reuse (r16, VERDICT r15 #6 — the
        nested analog of ``_remint_dropped``): a NEW struct field
        whose name was previously dropped at that path gets a fresh
        synthetic PHYSICAL leaf (``{leaf}__r{n}``) minted in a
        metadata-only CAS-guarded commit; the spec's ``phys_types``
        records its simple type so every scan forces the leaf present
        (pre-re-add files read it as NULL) — old bytes under the
        dropped leaf stay hidden forever. Non-atomic leaf types
        refuse at mint (a complex type cannot be forced into a scan
        schema session-free) with the rewrite remedy named."""
        key = self._schema_key(member)
        for parent, leaf, ddl in reused:
            if self._ddl_type_simple(ddl) is None:
                raise ValidationError(
                    f"append reuses dropped nested field "
                    f"{parent}.{leaf} of non-atomic type {ddl!r} — "
                    "the nested remint only covers atomic leaves; "
                    "rewrite the member (or pick a different name)"
                )
        for _ in range(5):
            _, entry = self._current_entry(store, root)
            before = entry.get("app", {}).get(key)
            cur = before or {}
            nested = {
                p: {k: dict(v) if isinstance(v, dict) else list(v)
                    for k, v in s.items()}
                for p, s in dict(cur.get("nested", {})).items()
            }
            changed = False
            for parent, leaf, ddl in reused:
                spec = nested.setdefault(parent, {})
                nmap = dict(spec.get("map", {}))
                if nmap.get(leaf, leaf) not in set(spec.get("drop", [])):
                    continue  # another writer already minted it
                ptypes = dict(spec.get("phys_types", {}))
                used = (
                    set(nmap.values())
                    | set(spec.get("drop", []))
                    | set(ptypes)
                )
                n = 2
                while f"{leaf}__r{n}" in used:
                    n += 1
                phys = f"{leaf}__r{n}"
                nmap[leaf] = phys
                ptypes[phys] = ddl
                spec["map"] = nmap
                spec["phys_types"] = ptypes
                changed = True
            meta = self._schema_meta_dict(
                dict(cur.get("map", {})), dict(cur.get("widen", {})),
                list(cur.get("drop", [])),
                dict(cur.get("phys_types", {})), nested,
            )
            if not changed:
                return meta
            mutate = lambda t: t  # noqa: E731 — metadata-only commit
            mutate.app_meta = {key: meta}
            mutate.entry_guard = self._app_cas_guard({key: before})
            try:
                self._commit(store, root, mutate)
                return meta
            except RewriteConflictError:
                continue  # racing schema evolution: re-read, retry
        raise RewriteConflictError(
            f"reusing dropped nested field name(s) "
            f"{[(p, l) for p, l, _ in reused]!r} on "
            f"{member or root!r}: could not land the physical remint "
            "past concurrent schema evolutions — retry the append"
        )

    @staticmethod
    def _schema_meta_dict(
        mapping, widen, dropped, ptypes, nested=None
    ) -> dict:
        """The member's ``__schema__`` app value with empty components
        elided — every schema-evolution commit builds it here so none
        silently drops a sibling key (e.g. ``phys_types``,
        ``nested``)."""
        nested = {
            p: {k: v for k, v in s.items() if v}
            for p, s in (nested or {}).items()
            if s.get("map") or s.get("drop") or s.get("widen")
        }
        return {
            k: v
            for k, v in (
                ("map", mapping),
                ("widen", widen),
                ("drop", dropped),
                ("phys_types", ptypes),
                ("nested", nested),
            )
            if v
        }

    def _to_physical(self, store, root: str, member: str, df):
        """Logical DataFrame -> physical write shape: rename mapped
        columns to their stable physical names; store widened columns
        at their widened type (so one file never mixes widths with its
        own stats). A column reusing a DROPPED name triggers the
        physical remint (``_remint_dropped``) — committed before this
        append, so the append's files land under the fresh synthetic
        name."""
        from pyspark.sql import functions as F

        from pyspark.sql import types as T

        _, entry = self._current_entry(store, root)
        meta = entry.get("app", {}).get(self._schema_key(member)) or {}
        mapping = meta.get("map", {})
        widen = meta.get("widen", {})
        dropped = set(meta.get("drop", []))
        nested = meta.get("nested", {})
        if not mapping and not widen and not dropped and not nested:
            return df
        reused = [c for c in df.columns if mapping.get(c, c) in dropped]
        if reused:
            meta = self._remint_dropped(
                store, root, member, dict(df.dtypes), reused
            )
            mapping = meta.get("map", {})
            widen = meta.get("widen", {})
            dropped = set(meta.get("drop", []))
            nested = meta.get("nested", {})
        if nested:
            # nested dropped-name reuse (r16): mint synthetic
            # physical leaves before the translation below resolves
            # them — the nested analog of the top-level remint
            n_reused = self._nested_reuse_sites(
                df.schema, mapping, nested
            )
            if n_reused:
                meta = self._remint_nested_dropped(
                    store, root, member, n_reused
                )
                mapping = meta.get("map", {})
                widen = meta.get("widen", {})
                dropped = set(meta.get("drop", []))
                nested = meta.get("nested", {})
        targets = {p for l, p in mapping.items() if p != l}
        cols = []
        for f in df.schema.fields:
            c = f.name
            phys = mapping.get(c, c)
            if phys in dropped:
                raise ValidationError(  # unreachable post-remint; guard
                    f"append to a schema-mapped member: column {c!r} "
                    "still resolves to a DROPPED physical name after "
                    "the remint — racing schema evolutions; retry."
                )
            if c not in mapping and phys in targets:
                raise ValidationError(
                    f"append to a schema-mapped member: new column "
                    f"{c!r} collides with an existing column's "
                    "PHYSICAL name — pick a different name (the "
                    "mapping already targets it)."
                )
            col = F.col(c)
            if (
                nested
                and self._nested_dispatchable(f.dataType)
                and self._nested_under(nested, phys)
            ):
                # nested specs (r15): the append carries LOGICAL field
                # names; store the stable physical leaves
                col = self._nested_physical_any(
                    col, f.dataType, phys, nested, c
                )
            if c in widen:
                col = col.cast(widen[c])
            cols.append(col.alias(phys))
        return df.select(*cols)

    def rename_column(self, store, path: str, old: str, new: str) -> None:
        """Metadata-only rename: one log entry updating the member's
        logical mapping — zero data files touched, old files read
        under the new name forever after. Refuses hive partition
        columns (their names are baked into directory paths).

        Dotted paths (r15) rename a NESTED struct field
        (``rename_column(..., "props.device", "props.dev_kind")`` —
        ``new`` may also be the bare leaf) — same metadata-only
        posture through the ``nested`` mapping component."""
        target = self._target_for_write(store, path)
        if target is None:
            return super().rename_column(store, path, old, new)
        if "." in old or "." in new:
            return self._rename_nested_field(store, path, old, new)
        root, member = target
        self._guard_constrained_column(
            store, root, member, old, "rename_column"
        )
        logical_cols = self.read_table(store, path, None).columns
        if old not in logical_cols:
            raise ValidationError(
                f"rename_column: {old!r} not in {logical_cols}"
            )
        if new in logical_cols:
            raise ValidationError(
                f"rename_column: {new!r} already exists"
            )
        _, tables = self._current(store, root)
        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )

        pcols = partition_cols_of(tables.get(member, []))
        if old in pcols or new in pcols:
            raise ValidationError(
                "rename_column: hive partition columns cannot be "
                "renamed by mapping (their names are directory paths)"
            )
        key = self._schema_key(member)
        _, entry = self._current_entry(store, root)
        cur = entry.get("app", {}).get(key) or {}
        mapping = dict(cur.get("map", {}))
        widen = dict(cur.get("widen", {}))
        dropped = list(cur.get("drop", []))
        if new in dropped:
            raise ValidationError(
                f"rename_column: {new!r} is a dropped column's "
                "physical name; materialize the mapping first"
            )
        phys = mapping.pop(old, old)
        mapping[new] = phys
        if old in widen:
            widen[new] = widen.pop(old)
        meta = self._schema_meta_dict(
            mapping, widen, dropped, dict(cur.get("phys_types", {})),
            dict(cur.get("nested", {})),
        )
        mutate = lambda t: t  # noqa: E731 — metadata-only commit
        mutate.app_meta = {key: meta}
        # CAS on the schema key: two racing evolutions must not clobber
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def drop_column(self, store, path: str, column: str) -> None:
        """Metadata-only drop: one log entry excluding the column from
        the logical view — zero data files touched; old files keep the
        bytes (vacuum-governed like all history), new appends never
        carry the column. Re-adding a column under the dropped NAME is
        safe (r14): the first append carrying it mints a fresh
        synthetic physical name (``_remint_dropped`` — the Delta
        id-mapping idiom), so the old bytes stay hidden and pre-re-add
        files read the new column as NULL. Refuses hive partition
        columns and the last column. Dotted paths (r15) drop a NESTED
        struct field by mapping — same posture; re-adding the dropped
        nested name remints a synthetic physical leaf on the next
        engine append (r16, ``_remint_nested_dropped``; atomic leaf
        types only — complex re-adds still refuse toward rewrite)."""
        target = self._target_for_write(store, path)
        if target is None:
            return super().drop_column(store, path, column)
        if "." in column:
            return self._drop_nested_field(store, path, column)
        root, member = target
        self._guard_constrained_column(
            store, root, member, column, "drop_column"
        )
        logical_cols = self.read_table(store, path, None).columns
        if column not in logical_cols:
            raise ValidationError(
                f"drop_column: {column!r} not in {logical_cols}"
            )
        if len(logical_cols) == 1:
            raise ValidationError(
                "drop_column: cannot drop the only column"
            )
        _, tables = self._current(store, root)
        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )

        if column in partition_cols_of(tables.get(member, [])):
            raise ValidationError(
                "drop_column: hive partition columns cannot be "
                "dropped by mapping (their values are directory paths)"
            )
        key = self._schema_key(member)
        _, entry = self._current_entry(store, root)
        cur = entry.get("app", {}).get(key) or {}
        mapping = dict(cur.get("map", {}))
        widen = dict(cur.get("widen", {}))
        dropped = list(cur.get("drop", []))
        phys = mapping.pop(column, column)
        widen.pop(column, None)
        dropped.append(phys)
        # nested specs at or below the dropped column's physical path
        # describe hidden fields — prune them with it
        nested = {
            p: s
            for p, s in dict(cur.get("nested", {})).items()
            if p != phys and not p.startswith(phys + ".")
        }
        meta = self._schema_meta_dict(
            mapping, widen, dropped, dict(cur.get("phys_types", {})),
            nested,
        )
        mutate = lambda t: t  # noqa: E731 — metadata-only commit
        mutate.app_meta = {key: meta}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def _rename_nested_field(
        self, store, path: str, old: str, new: str
    ) -> None:
        """Nested-field rename (r15): one CAS-guarded metadata commit
        updating the parent struct's ``nested`` spec — zero data files
        touched; pre-rename files serve the new logical view."""
        root, member = self._target_for_write(store, path)
        parent_phys, parent_type, leaf = self._resolve_nested_path(
            store, path, old
        )
        if "." in new:
            if new.rsplit(".", 1)[0] != old.rsplit(".", 1)[0]:
                raise ValidationError(
                    f"rename_column: {old!r} -> {new!r} would MOVE the "
                    "field to a different parent — a rename only "
                    "changes the leaf name (rewrite to restructure)"
                )
            new_leaf = new.rsplit(".", 1)[1]
        else:
            new_leaf = new
        logical_fields = {f.name for f in parent_type.fields}
        # the parent's LOGICAL field names: physical minus drops,
        # through the inverse leaf map — parent_type is already the
        # logical view's type, so its names are logical
        if leaf not in logical_fields:
            raise ValidationError(
                f"rename_column: no field {leaf!r} in "
                f"{sorted(logical_fields)} of {old.rsplit('.', 1)[0]!r}"
            )
        if new_leaf in logical_fields:
            raise ValidationError(
                f"rename_column: field {new_leaf!r} already exists in "
                f"{old.rsplit('.', 1)[0]!r}"
            )
        self._guard_constrained_column(
            store, root, member, old, "rename_column"
        )
        key = self._schema_key(member)
        _, entry = self._current_entry(store, root)
        cur = entry.get("app", {}).get(key) or {}
        nested = {
            p: {k: v for k, v in s.items()}
            for p, s in dict(cur.get("nested", {})).items()
        }
        spec = nested.setdefault(parent_phys, {})
        nmap = dict(spec.get("map", {}))
        phys_leaf = nmap.pop(leaf, leaf)
        nmap[new_leaf] = phys_leaf
        # identity entries (renamed back to the physical name) elide
        spec["map"] = {l: p for l, p in nmap.items() if l != p}
        meta = self._schema_meta_dict(
            dict(cur.get("map", {})), dict(cur.get("widen", {})),
            list(cur.get("drop", [])),
            dict(cur.get("phys_types", {})), nested,
        )
        mutate = lambda t: t  # noqa: E731 — metadata-only commit
        mutate.app_meta = {key: meta}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def _drop_nested_field(self, store, path: str, column: str) -> None:
        """Nested-field drop (r15): metadata-only exclusion of a
        struct field — old files keep the bytes; the logical view and
        every new append omit it. Refuses the struct's last field (an
        empty struct has no parquet representation)."""
        root, member = self._target_for_write(store, path)
        parent_phys, parent_type, leaf = self._resolve_nested_path(
            store, path, column
        )
        logical_fields = {f.name for f in parent_type.fields}
        if leaf not in logical_fields:
            raise ValidationError(
                f"drop_column: no field {leaf!r} in "
                f"{sorted(logical_fields)} of "
                f"{column.rsplit('.', 1)[0]!r}"
            )
        if len(logical_fields) == 1:
            raise ValidationError(
                f"drop_column: {leaf!r} is the only field of "
                f"{column.rsplit('.', 1)[0]!r} — drop the struct "
                "column itself instead"
            )
        self._guard_constrained_column(
            store, root, member, column, "drop_column"
        )
        key = self._schema_key(member)
        _, entry = self._current_entry(store, root)
        cur = entry.get("app", {}).get(key) or {}
        nested = {
            p: {k: v for k, v in s.items()}
            for p, s in dict(cur.get("nested", {})).items()
        }
        spec = nested.setdefault(parent_phys, {})
        nmap = dict(spec.get("map", {}))
        phys_leaf = nmap.pop(leaf, leaf)
        spec["map"] = nmap
        spec["drop"] = list(spec.get("drop", [])) + [phys_leaf]
        # a dropped leaf sheds its widen entry with it
        spec["widen"] = {
            k: v
            for k, v in spec.get("widen", {}).items()
            if k != phys_leaf
        }
        dropped_path = f"{parent_phys}.{phys_leaf}"
        # deeper specs under the dropped field describe hidden bytes
        nested = {
            p: s
            for p, s in nested.items()
            if p != dropped_path
            and not p.startswith(dropped_path + ".")
        }
        meta = self._schema_meta_dict(
            dict(cur.get("map", {})), dict(cur.get("widen", {})),
            list(cur.get("drop", [])),
            dict(cur.get("phys_types", {})), nested,
        )
        mutate = lambda t: t  # noqa: E731 — metadata-only commit
        mutate.app_meta = {key: meta}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def _widen_nested_field(
        self, store, path: str, column: str, to_type: str
    ) -> None:
        """Nested-field widen (r15): metadata-only — reads cast the
        leaf wide, new files store it wide, and the physical scan
        forces the wide leaf type so mixed-width struct generations
        read under one schema. The ``widen`` spec keys by the
        immutable PHYSICAL leaf, so it survives nested renames."""
        root, member = self._target_for_write(store, path)
        # nested widen stays struct-path-only (r16): a repeated leaf
        # has no footer-stat surface, so mixed-width generations
        # could not keep comparable stats — refuse toward rewrite
        parent_phys, parent_type, leaf = self._resolve_nested_path(
            store, path, column, allow_repeated=False
        )
        fld = {f.name: f for f in parent_type.fields}.get(leaf)
        if fld is None:
            raise ValidationError(
                f"widen_column: no field {leaf!r} in "
                f"{sorted(f.name for f in parent_type.fields)} of "
                f"{column.rsplit('.', 1)[0]!r}"
            )
        self._check_widen_source(
            fld.dataType.simpleString(), column, to_type
        )
        self._guard_constrained_column(
            store, root, member, column, "widen_column"
        )
        key = self._schema_key(member)
        _, entry = self._current_entry(store, root)
        cur = entry.get("app", {}).get(key) or {}
        nested = {
            p: {k: v for k, v in s.items()}
            for p, s in dict(cur.get("nested", {})).items()
        }
        spec = nested.setdefault(parent_phys, {})
        phys_leaf = {
            l: p for l, p in spec.get("map", {}).items()
        }.get(leaf, leaf)
        spec["widen"] = {**spec.get("widen", {}), phys_leaf: to_type}
        meta = self._schema_meta_dict(
            dict(cur.get("map", {})), dict(cur.get("widen", {})),
            list(cur.get("drop", [])),
            dict(cur.get("phys_types", {})), nested,
        )
        mutate = lambda t: t  # noqa: E731 — metadata-only commit
        mutate.app_meta = {key: meta}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def widen_column(self, store, path: str, column: str, to_type: str) -> None:
        """Metadata-only widen: the column reads (and new files write)
        at the wider type; existing files keep their narrow physical
        type and their stats stay comparable (kind-normalized).
        Dotted paths (r15) widen a NESTED struct leaf the same way."""
        if to_type not in self.WIDEN_TYPES:
            raise ValidationError(
                f"widen_column: to_type must be one of "
                f"{sorted(self.WIDEN_TYPES)}, got {to_type!r}"
            )
        if "." in column and self._target_for_write(store, path):
            return self._widen_nested_field(store, path, column, to_type)
        target = self._target_for_write(store, path)
        if target is None:
            return super().widen_column(store, path, column, to_type)
        root, member = target
        df = self.read_table(store, path, None)
        if column not in df.columns:
            raise ValidationError(
                f"widen_column: {column!r} not in {df.columns}"
            )
        self._check_widen_source(dict(df.dtypes)[column], column, to_type)
        _, tables = self._current(store, root)
        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )

        if column in partition_cols_of(tables.get(member, [])):
            raise ValidationError(
                "widen_column: hive partition columns cannot be "
                "widened by mapping (their values are directory paths)"
            )
        key = self._schema_key(member)
        _, entry = self._current_entry(store, root)
        cur = entry.get("app", {}).get(key) or {}
        mapping = dict(cur.get("map", {}))
        widen = dict(cur.get("widen", {}))
        dropped = list(cur.get("drop", []))
        widen[column] = to_type
        meta = self._schema_meta_dict(
            mapping, widen, dropped, dict(cur.get("phys_types", {})),
            dict(cur.get("nested", {})),
        )
        mutate = lambda t: t  # noqa: E731
        mutate.app_meta = {key: meta}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    # -- CHECK constraints (r14) ---------------------------------------
    # Schema-level data-quality enforcement, the Delta CHECK
    # constraint idiom: a named SQL boolean over LOGICAL column names,
    # stored in the member's app map and validated against every
    # staged data write through this commit class BEFORE the commit
    # lands — a violating batch aborts with the first bad row and
    # nothing becomes visible. Zero overhead when a member has no
    # constraints (one cached dict lookup per staged write).

    @staticmethod
    def _constraint_key(member: str) -> str:
        return f"__constraints__:{member}" if member else "__constraints__:"

    def table_constraints(self, store, path: str) -> dict:
        """{name: sql_expr} for the member (empty when none /
        unmanaged)."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return {}
        root, member = resolved
        _, entry = self._current_entry(store, root)
        return dict(
            entry.get("app", {}).get(self._constraint_key(member)) or {}
        )

    @staticmethod
    def _violation(df, expr: str):
        """First row of ``df`` violating the boolean ``expr`` (NULL
        evaluations count as violations — a constraint must PROVE
        every row), or None."""
        bad = df.where(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        ).limit(1)
        rows = bad.collect()
        return rows[0] if rows else None

    def add_constraint(
        self, store, path: str, name: str, expr: str
    ) -> None:
        """Install a CHECK constraint: every EXISTING row must satisfy
        ``expr`` (one scan, refused with the first violation — the
        Delta ADD CONSTRAINT contract), then every future staged write
        validates against it. ``expr`` references LOGICAL column
        names; renaming or dropping a referenced column refuses while
        the constraint stands."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"add_constraint: {path!r} is not manifest-managed"
            )
        root, member = target
        key = self._constraint_key(member)
        _, entry = self._current_entry(store, root)
        cur = dict(entry.get("app", {}).get(key) or {})
        if name in cur:
            raise ValidationError(
                f"add_constraint: {name!r} already exists "
                f"({cur[name]}); drop it first"
            )
        if self.table_exists(store, path):
            df = self.read_table(store, path)
            # dialect gate (r16, VERDICT r15 #3): connector writes
            # evaluate CHECK expressions task-side in embedded DuckDB
            # (workers carry no SparkSession) — an expression only
            # Spark parses would validate fine here, then kill every
            # future connector write with a task-side parse error as
            # the FIRST signal. Dry-run the exact task-side SQL shape
            # against an empty relation of the member's logical schema
            # and refuse at ADD instead. Fail-open on infrastructure
            # (missing duckdb / unconvertible schema: the task-side
            # validator could not run there either), fail-closed on a
            # parse/bind error.
            self._constraint_dialect_gate(df.schema, name, expr)
            row = self._violation(df, expr)
            if row is not None:
                raise ValidationError(
                    f"add_constraint {name!r}: existing row violates "
                    f"({expr}): {row.asDict()}"
                )
        cur[name] = str(expr)
        mutate = lambda t: t  # noqa: E731 — metadata-only commit
        mutate.app_meta = {key: cur}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def _constraint_dialect_gate(self, schema, name: str, expr: str) -> None:
        """Refuse a CHECK expression the connector's task-side
        validator cannot run: bind the exact SQL shape
        ``_validate_constraints_arrow`` executes — ``NOT
        COALESCE(CAST((expr) AS BOOLEAN), FALSE)`` — in embedded
        DuckDB against an EMPTY relation of the member's logical
        schema. A Spark-only expression (``array_contains(...)``,
        backtick quoting, ...) refuses HERE, at ADD, naming the
        remedy — instead of every later ``df.write.format(
        "rlts_table")`` dying on a worker-side parse error as the
        first signal. Infrastructure failures (duckdb missing, a type
        Arrow cannot carry) skip the gate: the task-side validator
        could not have run in that environment either."""
        try:
            import duckdb
            from pyspark.sql.pandas.types import to_arrow_schema

            empty = to_arrow_schema(schema).empty_table()
        except Exception:
            return
        con = duckdb.connect()
        try:
            con.register("staged", empty)
            try:
                con.execute(
                    "SELECT * FROM staged WHERE NOT COALESCE(CAST(("
                    + expr
                    + ") AS BOOLEAN), FALSE) LIMIT 1"
                ).fetchall()
            except duckdb.Error as e:
                raise ValidationError(
                    f"CHECK constraint {name!r}: ({expr}) does not "
                    "parse in the ANSI SQL subset CHECK expressions "
                    "must live in (connector writes validate it "
                    "task-side in an embedded SQL engine) — rewrite "
                    f"with portable functions. Parser said: {e}"
                ) from e
        finally:
            con.close()

    def drop_constraint(self, store, path: str, name: str) -> None:
        """Remove a CHECK constraint (idempotent)."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"drop_constraint: {path!r} is not manifest-managed"
            )
        root, member = target
        key = self._constraint_key(member)
        _, entry = self._current_entry(store, root)
        cur = dict(entry.get("app", {}).get(key) or {})
        if name not in cur:
            return
        cur.pop(name)
        mutate = lambda t: t  # noqa: E731
        mutate.app_meta = {key: cur}
        mutate.entry_guard = self._app_cas_guard(
            {key: entry.get("app", {}).get(key)}
        )
        self._commit(store, root, mutate)

    def _stage_data(self, store, root: str, member: str, write_fn):
        """``_stage_in`` for DATA files, with CHECK-constraint
        validation of the staged rows (logical view on mapped
        members) BEFORE any commit references them: a violation
        removes the staged files and raises — nothing half-lands.
        CDF files and DV blobs stage raw (they are change metadata,
        not table content).

        The constraint map validated here is also recorded for the
        commit that references these files (thread-local, drained by
        ``_commit``): the commit CAS-checks it against the entry it
        lands on, so a write staged BEFORE a concurrent
        ``add_constraint`` cannot commit unvalidated rows behind the
        new constraint (ADVICE r14 — add_constraint's full-table scan
        cannot see staged-but-invisible files), and a constraint
        dropped mid-write conflicts rather than silently diverging.
        ``RewriteConflictError`` → re-stage on fresh state."""
        files = self._stage_in(store, root, member, write_fn)
        if not files:
            return files
        _, entry = self._current_entry(store, root)
        cons = entry.get("app", {}).get(self._constraint_key(member))
        pend = getattr(_CONS_CAS, "map", None)
        if pend is None:
            pend = _CONS_CAS.map = {}
        # keyed by the STAGED FILE SET (r16, VERDICT r15 #4): the CAS
        # trips only a commit that actually ADDS these files. A stage
        # abandoned by an exception before its commit leaves orphans
        # no later commit ever references, so its entry can never
        # raise a spurious conflict for an unrelated same-thread
        # commit on the same member — it sits inert until the next
        # stage of that member overwrites it.
        pend[(root, member)] = (
            dict(cons) if cons else None, frozenset(files)
        )
        if not cons:
            return files
        base = self._member_root(root, member)
        meta = entry.get("app", {}).get(self._schema_key(member)) or {}
        df = (
            self._mapped_scan(store, base, files, meta)
            if meta
            else store.spark.read.option("basePath", base).parquet(
                *[f"{base}/{f}" for f in files]
            )
        )
        for cname, expr in sorted(cons.items()):
            row = self._violation(df, expr)
            if row is not None:
                pend.pop((root, member), None)  # no commit will drain it
                for f in files:
                    try:
                        store.fs.remove_file(f"{base}/{f}")
                    except Exception:
                        pass  # vacuum's orphan sweep is the backstop
                raise ValidationError(
                    f"CHECK constraint {cname!r} ({expr}) violated by "
                    f"staged row {row.asDict()} — nothing committed"
                )
        return files

    def _guard_constrained_column(
        self, store, root: str, member: str, column: str, action: str
    ) -> None:
        """Refuse schema changes to a column a CHECK constraint
        references (conservative word-boundary match — the constraint
        would silently stop seeing the data it guards)."""
        import re

        _, entry = self._current_entry(store, root)
        cons = (
            entry.get("app", {}).get(self._constraint_key(member)) or {}
        )
        hits = [
            n for n, e in cons.items()
            if re.search(rf"\b{re.escape(column)}\b", e)
        ]
        if hits:
            raise ValidationError(
                f"{action}: column {column!r} is referenced by CHECK "
                f"constraint(s) {sorted(hits)}; drop them first"
            )

    @staticmethod
    def cdf_member_of(member: str) -> str:
        """Change-file member name for a table member. Not underscore-
        or dot-prefixed (Spark readers must open the files when named
        explicitly); never part of the committed ``tables`` map — the
        files are referenced only by their commit entry's ``change``
        metadata, so vacuum retains them exactly as long as the entry
        and the feed self-expires with the retention horizon (the
        Delta ``_change_data`` lifecycle)."""
        return f"{member}~cdf" if member else "~cdf"

    def _stage_cdf(
        self, store, root: str, member: str, cdf_df,
        change: dict | None,
    ) -> dict:
        """Stage a typed row-level change DataFrame for ``member`` and
        return the ``change`` metadata block (``kind: "cdf"``) the
        commit entry must carry — the files live under
        ``cdf_member_of(member)``, outside the committed table map, and
        vacuum retains them exactly as long as their entry."""
        cdf_files = self._stage_in(
            store, root, self.cdf_member_of(member),
            lambda tmp: cdf_df.write.mode("overwrite").parquet(tmp),
        )
        return {
            **(change or {}),
            "kind": "cdf",
            "cdf_member": self.cdf_member_of(member),
            "files": cdf_files,
        }

    def rewrite_files(
        self, store, path: str, remove, write_fn,
        app_meta: dict | None = None, entry_guard=None,
        cdf_df=None, change: dict | None = None,
        restat: dict | None = None,
        restat_overlay: dict | None = None,
        plan_dv: dict | None = None,
    ) -> list[str]:
        """File-granular copy-on-write: atomically replace the
        ``remove`` subset of a member's files with ``write_fn``'s
        staged output, leaving every other file untouched — the
        primitive under row-level MERGE/DELETE (``operators/merge``).
        At 100 TB an upsert touching a handful of keys rewrites the
        handful of files whose stats overlap them, not the table.

        Conflict rule, deliberately NARROWER than
        ``snapshot_rewrite``'s whole-list check: only the files being
        REPLACED must still be listed at commit time (a concurrent
        rewrite that already replaced one raises
        ``RewriteConflictError`` — retry on fresh state); concurrent
        appends of unrelated files land in the same entry untouched,
        so a streaming sink never loses an append to a racing merge.

        ``remove`` may be empty (pure insert of new files) and
        ``write_fn`` may be None (pure delete). ``app_meta`` merges
        into the entry's ``app`` map atomically with the file change;
        a CALLABLE ``app_meta`` receives the freshly staged relpaths
        and returns the dict — for cursors derived from the new files
        themselves (the incremental Z-order pass records their stage
        tokens). ``entry_guard``, if given, is called with the exact
        log entry the commit would land on (inside the optimistic
        retry loop, so it sees every racing commit) — callers use it
        to harden the narrow conflict rule, e.g. a MERGE raising on
        concurrent appends whose stats overlap its key envelope.

        ``plan_dv`` (r15, ADVICE) closes the restat-vs-rewrite race:
        the file-presence conflict check below cannot see a concurrent
        DV ``restat`` — the file stays LISTED while its row content
        changes, so replacement files materialized from the plan-time
        scan would silently resurrect the concurrently DV-deleted rows
        and discard the racer's vector. Callers pass the per-file DV
        blob path their planning scan read (``scan_member_subset``
        fills it via its ``plan`` out-param); the commit CAS-checks
        each against the entry it lands on and raises
        ``RewriteConflictError`` on drift — retry re-plans on fresh
        state. Every remove-based rewrite in the engine (compaction,
        Z-order, rewrite-mode merge/delete, replace_range) threads it.

        ``change`` annotates the entry for incremental consumers:
        ``{"kind": "preserve"}`` declares a content-identical rewrite
        (compaction, Z-order) that change feeds skip outright.
        ``cdf_df``, if given, stages row-level change files (the
        caller's typed upsert/delete rows) in the SAME atomic commit
        and records them in the entry's change metadata with
        ``kind: "cdf"`` — ``read_row_changes`` serves them; see
        ``cdf_member_of`` for their lifecycle. On a schema-mapped
        member (rename/widen/drop, r13) the ``cdf_df`` AND the staged
        replacement files must carry PHYSICAL column names — the same
        convention as the member's data files, so the feed reader's
        one logical-view assembly serves both; ``operators/merge``
        translates through ``_to_physical`` (r14), and maintenance
        reads physical to begin with.

        Returns the new relpaths. The trailing vacuum keeps the
        retention margin, so readers of retained snapshots stay
        valid."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"{path!r} is not manifest-managed; file-granular "
                "rewrite needs the commit log (use snapshot_rewrite "
                "for directory tables)"
            )
        root, member = target
        remove = list(remove)
        restat = dict(restat or {})
        # restat_overlay: like ``restat`` but merging only the given
        # FIELDS onto each file's commit-time stats block — the DV
        # attach uses it so a concurrent stats backfill of a touched
        # file survives the commit (ADVICE r14: whole-block restat
        # clobbered rows back to plan-time None).
        restat_overlay = dict(restat_overlay or {})
        if (
            (restat or restat_overlay)
            and (change or {}).get("kind") == "preserve"
            and any(
                "dv" in (b or {})
                for b in (
                    list(restat.values()) + list(restat_overlay.values())
                )
            )
        ):
            raise ValidationError(
                "rewrite_files: a deletion-vector restat changes row "
                "content — it cannot be marked kind='preserve' (feeds "
                "would silently skip the delete); stage cdf_df instead"
            )
        preserve = (change or {}).get("kind") == "preserve"
        files = (
            (
                # content-identical by the caller's own preserve
                # contract (compaction, Z-order, stats backfill):
                # re-validating CHECK constraints would re-scan data
                # that already passed them on its original write
                self._stage_in(store, root, member, write_fn)
                if preserve
                else self._stage_data(store, root, member, write_fn)
            )
            if write_fn is not None
            else []
        )
        if cdf_df is not None:
            change = self._stage_cdf(store, root, member, cdf_df, change)

        def mutate(tables):
            old = list(tables.get(member, []))
            present = set(old)
            missing = [f for f in remove if f not in present]
            rm = set(remove)
            # a restat target (DV attach) concurrently removed means a
            # racing rewrite replaced the file — the positions we
            # computed describe bytes no longer in the table
            missing += [
                f
                for f in list(restat) + list(restat_overlay)
                if f not in present or f in rm
            ]
            if missing:
                raise RewriteConflictError(
                    f"rewrite_files of {path!r}: {len(missing)} "
                    f"file(s) to replace/restat are no longer in "
                    f"the manifest (first: {missing[0]}); a concurrent "
                    "rewrite landed — retry on fresh state"
                )
            return {
                **tables,
                member: [f for f in old if f not in rm] + files,
            }

        mutate.stats_add = self._file_stats(store, root, member, files)
        if restat:
            mutate.restat = {member: restat}
        if restat_overlay:
            mutate.restat_overlay = {member: restat_overlay}
        if callable(app_meta):
            app_meta = app_meta(list(files))
        if app_meta:
            mutate.app_meta = dict(app_meta)
        if plan_dv is not None:
            entry_guard = self._dv_cas_guard(
                member, dict(plan_dv), entry_guard
            )
        if entry_guard is not None:
            mutate.entry_guard = entry_guard
        if change:
            mutate.change_meta = dict(change)
        self._commit(store, root, mutate)
        self.vacuum(store, root)
        return files

    @staticmethod
    def _dv_cas_guard(member: str, plan_dv: dict, inner):
        """Entry guard CAS-checking each planned file's CURRENT
        deletion-vector blob path against the path the planning scan
        filtered through (None = no DV at plan time). Runs inside the
        optimistic-commit loop, so it sees every racing commit —
        including a DV ``restat`` that keeps the file listed (which
        the file-presence check cannot catch). Chains ``inner``."""

        def guard(prev):
            stats = prev.get("stats", {}).get(member, {})
            for f, exp in plan_dv.items():
                cur = ((stats.get(f) or {}).get("dv") or {}).get("path")
                if cur != exp:
                    raise RewriteConflictError(
                        f"deletion vector of {f} changed since "
                        f"planning ({exp!r} -> {cur!r}); a concurrent "
                        "row-level delete landed — rewriting the "
                        "plan-time bytes would resurrect its rows. "
                        "Retry on fresh state"
                    )
            if inner is not None:
                inner(prev)

        return guard

    def repair_interrupted_rewrite(self, store, path: str) -> None:
        """Manifest commits are atomic — a crash mid-job leaves only
        invisible staged orphans (vacuum's job), never a half-visible
        table. Directory-mode tables keep the inherited repair."""
        if self._resolve(store, path) is None:
            return super().repair_interrupted_rewrite(store, path)

    #: snapshots kept by vacuum: log entries AND the data files they
    #: reference. Every retained version is fully readable — a reader
    #: that resolved any retained snapshot keeps scanning valid files
    #: mid-commit (snapshot isolation with a margin), and
    #: ``read_table(version=...)`` time-travels to it exactly. Older
    #: versions are pruned log + collected files: unrecoverable.
    KEEP_LOG_ENTRIES = 10

    #: deletion grace for UNREFERENCED files: a leaseless committer
    #: (the streaming admission sink) has a window between moving its
    #: staged files into ``data/`` and landing its log entry, and an
    #: in-flight stage dir under ``_stage/`` — in both, its files are
    #: physically present but referenced by no entry. Vacuum skips
    #: unreferenced files/stage-dirs younger than this many seconds
    #: (a later vacuum collects true orphans once they age out); a
    #: commit slower than the grace window is outside the guarantee.
    VACUUM_GRACE_S = 900.0

    def vacuum(
        self,
        store,
        root: str,
        retain_versions: int | None = None,
        grace_s: float | None = None,
    ) -> int:
        """Prune the commit log to the newest ``retain_versions``
        entries (default ``KEEP_LOG_ENTRIES``), then delete every data
        file referenced by NO retained entry, plus abandoned staging
        dirs. Files of retained historical snapshots stay on disk even
        when the CURRENT snapshot no longer references them — that is
        the retention margin protecting in-flight readers of recent
        snapshots and backing time travel; ``retain_versions=1``
        collects down to the live snapshot (the aggressive reclaim
        for space-bound maintenance), modulo the anchor alignment
        below, which may keep up to one checkpoint-interval of
        trailing history readable. Unreferenced files
        younger than ``grace_s`` (default ``VACUUM_GRACE_S``) are
        SKIPPED — they may be a leaseless commit in flight (see the
        class attribute); pass 0 to collect immediately when no
        concurrent writer can exist. Runs under the maintenance lock
        (single vacuumer); returns the number of data files removed."""
        retain = (
            self.KEEP_LOG_ENTRIES
            if retain_versions is None
            else max(1, int(retain_versions))
        )
        grace = (
            self.VACUUM_GRACE_S if grace_s is None else max(0.0, grace_s)
        )
        resolved = self._resolve(store, root)
        if resolved is None or resolved[0] != root:
            return 0
        removed = 0
        data_root = f"{root}/{DATA_DIR}"
        # Read-validate EVERY retained snapshot before pruning
        # anything: if a retained version (worst case the newest) is
        # not reconstructible, the abort below must leave the older,
        # still-readable history on disk — it is the only recovery /
        # time-travel fallback. Prune-first would destroy it before
        # noticing. A retry covers the one benign failure — a racing
        # vacuum pruning an entry between our listing and the read
        # (possible because rewrite_files vacuums leaselessly); its
        # horizon was at least as new, so re-listing converges.
        for attempt in range(3):
            evs, cps = self._list_log(store, root)
            retained = evs[-retain:] if evs else []
            live: set[str] = set()
            cut = 0

            def _live_change_files(entry) -> None:
                # row-level change files (merge/delete CDF) live
                # exactly as long as the entry that recorded them —
                # they are referenced by the change metadata, never by
                # the tables map (the Delta _change_data lifecycle)
                change = entry.get("change") or {}
                if change.get("kind") == "cdf":
                    base = self._member_root(root, change["cdf_member"])
                    live.update(
                        f"{base}/{f}" for f in change.get("files", [])
                    )

            def _live_dv_blobs(state) -> None:
                # deletion-vector blobs are referenced through per-file
                # stats, never the tables map: a blob lives as long as
                # ANY retained version's stats point a file at it
                for m, fsmap in state.get("stats", {}).items():
                    mroot = self._member_root(root, m)
                    for s in fsmap.values():
                        d = (s or {}).get("dv")
                        if d:
                            live.add(f"{mroot}/{d['path']}")

            try:
                if retained:
                    oldest = retained[0]
                    # Align the prune cut DOWN to the newest existing
                    # anchor at or below the horizon when it is within
                    # one checkpoint interval: vacuum then prunes in
                    # interval-sized bursts and never pays an O(table)
                    # anchor-checkpoint write per run — the
                    # steady-state cost the delta log exists to avoid
                    # (with KEEP_LOG_ENTRIES == CHECKPOINT_INTERVAL,
                    # an exact cut would need a fresh anchor on ~9 of
                    # 10 vacuums). At most one interval of trailing
                    # versions stays readable past the horizon — a
                    # bounded bonus, not a violation.
                    cut = oldest
                    anchors = [cv for cv in cps if cv <= oldest]
                    if (
                        anchors
                        and oldest - anchors[-1]
                        <= self.CHECKPOINT_INTERVAL
                    ):
                        cut = anchors[-1]
                    kept = [v for v in evs if v >= cut]
                    _, state = self._reconstruct(store, root, cut)
                    live.update(
                        f"{self._member_root(root, m)}/{f}"
                        for m, fs_ in state["tables"].items()
                        for f in fs_
                    )
                    _live_dv_blobs(state)
                    head = json.loads(
                        store.fs.read_text(
                            f"{root}/{LOG_DIR}/{cut:020d}.json"
                        )
                    )
                    _live_change_files(head)
                    # The cut version must stay reconstructible AFTER
                    # entries below it are pruned: if its entry is a
                    # delta and no checkpoint anchors it, write one
                    # now (from the state just validated) BEFORE any
                    # pruning — and VERIFY it landed.
                    # _write_checkpoint is best-effort by contract
                    # (interval checkpoints may fail harmlessly), but
                    # here the anchor is load-bearing: pruning without
                    # it would leave every retained version
                    # unreconstructible, the exact loss the
                    # read-validate-before-prune design exists to
                    # prevent.
                    if evs and evs[0] < cut and "tables" not in head:
                        # The anchor must be LOADABLE, not merely
                        # present — the member-part format makes
                        # exists != loadable (a part could have been
                        # lost to the reuse/GC race). Verify even a
                        # PRE-EXISTING checkpoint before pruning the
                        # entries below it; an unloadable one is
                        # removed and rewritten from the state just
                        # validated, and the prune aborts if the
                        # anchor still cannot load.
                        try:
                            self._load_checkpoint(store, root, cut)
                        except Exception:
                            store.fs.remove_file(
                                f"{root}/{LOG_DIR}/{cut:020d}"
                                f"{CHECKPOINT_SUFFIX}"
                            )
                            self._write_checkpoint(
                                store, root, cut,
                                state["tables"], state["stats"],
                                state["app"],
                            )
                            try:
                                self._load_checkpoint(store, root, cut)
                            except Exception as exc:
                                # a RACING vacuum can interleave its
                                # parts GC / repair with ours (both
                                # run leaseless) — re-list and retry
                                # like the missing-entry case; only a
                                # persistent failure aborts (via the
                                # loop's exhausted-retries path)
                                err = VersionNotFoundError(
                                    f"anchor checkpoint at cut {cut} "
                                    f"of {root} not loadable after "
                                    f"rewrite ({exc}); retrying on a "
                                    "fresh listing"
                                )
                                err.missing = True
                                raise err from exc
                    for v in kept[1:]:
                        entry = json.loads(
                            store.fs.read_text(
                                f"{root}/{LOG_DIR}/{v:020d}.json"
                            )
                        )
                        self._apply_entry(state, entry)
                        _live_change_files(entry)
                        live.update(
                            f"{self._member_root(root, m)}/{f}"
                            for m, fs_ in state["tables"].items()
                            for f in fs_
                        )
                        _live_dv_blobs(state)
                break
            except VersionNotFoundError as exc:
                if getattr(exc, "missing", False) and attempt < 2:
                    continue  # racing vacuum: re-list and retry
                raise ConcurrentMaintenanceError(
                    f"vacuum aborted: retained history of {root} is "
                    f"unreadable ({exc}); refusing to treat its files "
                    "as dead"
                ) from exc
            except Exception as exc:
                entry_missing = isinstance(exc, FileNotFoundError)
                if entry_missing and attempt < 2:
                    continue
                raise ConcurrentMaintenanceError(
                    f"vacuum aborted: retained log entry of {root} is "
                    f"unreadable ({type(exc).__name__}: {exc}); "
                    "refusing to treat its files as dead"
                ) from exc
        # Every retained snapshot validated (and anchored) — only now
        # is it safe to drop the older log history and its stale
        # checkpoints (``cut`` is anchor-aligned, see above).
        for v in [x for x in evs if x < cut]:
            store.fs.remove_file(f"{root}/{LOG_DIR}/{v:020d}.json")
        for cv in [x for x in cps if x < cut]:
            store.fs.remove_file(
                f"{root}/{LOG_DIR}/{cv:020d}{CHECKPOINT_SUFFIX}"
            )

        def _in_grace(path: str) -> bool:
            if grace <= 0:
                return False
            age = store.fs.age_seconds(path)
            return age is not None and age < grace

        def _ls(path: str) -> list:
            # vacuums run leaseless and CAN race each other: a dir
            # listed a moment ago may be gone by the time we walk it
            # (the other vacuum's remove_tree / rmdir) — absent means
            # nothing left to collect here, never an error
            try:
                return store.fs.listdir(path)
            except (FileNotFoundError, NotADirectoryError, OSError):
                return []

        # FLOOR the claim-sweep age at the class grace regardless of
        # the caller's grace_s: a claim younger than that may be an
        # IN-FLIGHT commit's temp, and sweeping it forces the
        # committer onto the non-atomic no-hardlink fallback (the
        # zero-byte-entry race); grace_s=0 means "collect data files
        # now", never "break commit atomicity".
        def _claim_stale(p: str) -> bool:
            age = store.fs.age_seconds(p)
            return age is not None and age >= max(
                grace, self.VACUUM_GRACE_S
            )

        # GC checkpoint parts referenced by NO remaining manifest —
        # re-list after the prune so a part shared across checkpoint
        # generations survives exactly as long as any referencing
        # manifest; grace protects an in-flight checkpoint writer
        # (parts land before its manifest does).
        parts_dir = f"{root}/{LOG_DIR}/{PARTS_DIR}"
        if store.fs.exists(parts_dir):
            referenced: set = set()
            refs_complete = True
            _, live_cps = self._list_log(store, root)
            for cv in live_cps:
                try:
                    manifest = json.loads(
                        store.fs.read_text(
                            f"{root}/{LOG_DIR}/{cv:020d}"
                            f"{CHECKPOINT_SUFFIX}"
                        )
                    )
                    referenced.update(
                        manifest.get("parts", {}).values()
                    )
                except Exception:
                    # can't know this manifest's parts — skip part GC
                    # this run rather than guess (claims still sweep)
                    refs_complete = False
            for name in _ls(parts_dir):
                p = f"{parts_dir}/{name}"
                if (
                    refs_complete
                    and name.endswith(".json")
                    and name[:-5] not in referenced
                    and not _in_grace(p)
                ):
                    store.fs.remove_file(p)
                elif ".claim-" in name and _claim_stale(p):
                    # orphan create_exclusive temp from a crashed part
                    # write (ADVICE r12)
                    store.fs.remove_file(p)
            store.fs.rmdir_if_empty(parts_dir)
        # same sweep for crashed entry/checkpoint claims in _log
        for name in _ls(f"{root}/{LOG_DIR}"):
            if ".claim-" in name:
                p = f"{root}/{LOG_DIR}/{name}"
                if _claim_stale(p):
                    store.fs.remove_file(p)

        def _stage_in_grace(path: str) -> bool:
            # A Spark stage writing DEEPER than the token dir (e.g.
            # _temporary subtrees) does not refresh the token dir's
            # own mtime, so judge the stage by its NEWEST content: the
            # minimum age across the dir and everything under it. A
            # stage still being written always has a recent file.
            if grace <= 0:
                return False
            ages = [store.fs.age_seconds(path)]
            stack = [path]
            while stack:
                cur = stack.pop()
                if not store.fs.is_dir(cur):
                    continue
                for name in _ls(cur):
                    child = f"{cur}/{name}"
                    ages.append(store.fs.age_seconds(child))
                    if store.fs.is_dir(child):
                        stack.append(child)
            known = [a for a in ages if a is not None]
            return bool(known) and min(known) < grace

        for rel in self._walk_parquet(store, data_root):
            full = f"{data_root}/{rel}"
            if full not in live and not _in_grace(full):
                store.fs.remove_file(full)
                removed += 1
        stage_root = f"{root}/{STAGE_DIR}"
        if store.fs.exists(stage_root):
            for name in _ls(stage_root):
                child = f"{stage_root}/{name}"
                if not _stage_in_grace(child):
                    store.fs.remove_tree(child)
            store.fs.rmdir_if_empty(stage_root)
        self._prune_empty_dirs(store, data_root)
        return removed

    def vacuum_report(
        self,
        store,
        root: str,
        retain_versions: int | None = None,
        grace_s: float | None = None,
    ) -> dict:
        """DRY RUN of the data-file sweep: what a ``vacuum`` with the
        same arguments would collect, computed READ-ONLY — no log
        pruning, no anchoring checkpoint, no deletion of any kind
        (the Delta ``VACUUM ... DRY RUN`` idiom). Returns counts plus
        a bounded sample of the dead files. Log-entry/claim pruning
        is reported as a count only (tiny metadata). The numbers are
        a point-in-time estimate: a racing commit can change them."""
        retain = (
            self.KEEP_LOG_ENTRIES
            if retain_versions is None
            else max(1, int(retain_versions))
        )
        grace = (
            self.VACUUM_GRACE_S if grace_s is None else max(0.0, grace_s)
        )
        resolved = self._resolve(store, root)
        if resolved is None or resolved[0] != root:
            return {"dead_files": 0, "dead_in_grace": 0,
                    "live_files": 0, "prunable_log_entries": 0,
                    "sample": []}
        evs, cps = self._list_log(store, root)
        retained = evs[-retain:] if evs else []
        live: set[str] = set()
        cut = 0
        if retained:
            oldest = retained[0]
            cut = oldest
            anchors = [cv for cv in cps if cv <= oldest]
            if anchors and oldest - anchors[-1] <= self.CHECKPOINT_INTERVAL:
                cut = anchors[-1]
            _, state = self._reconstruct(store, root, cut)

            def _collect(entry_or_none) -> None:
                live.update(
                    f"{self._member_root(root, m)}/{f}"
                    for m, fs_ in state["tables"].items()
                    for f in fs_
                )
                for m, fsmap in state.get("stats", {}).items():
                    mroot = self._member_root(root, m)
                    for s in fsmap.values():
                        d = (s or {}).get("dv")
                        if d:
                            live.add(f"{mroot}/{d['path']}")
                change = (entry_or_none or {}).get("change") or {}
                if change.get("kind") == "cdf":
                    base = self._member_root(root, change["cdf_member"])
                    live.update(
                        f"{base}/{f}" for f in change.get("files", [])
                    )

            head = json.loads(
                store.fs.read_text(f"{root}/{LOG_DIR}/{cut:020d}.json")
            )
            _collect(head)
            for v in [x for x in evs if x > cut]:
                entry = json.loads(
                    store.fs.read_text(
                        f"{root}/{LOG_DIR}/{v:020d}.json"
                    )
                )
                self._apply_entry(state, entry)
                _collect(entry)
        data_root = f"{root}/{DATA_DIR}"
        dead, in_grace, sample = 0, 0, []
        for rel in self._walk_parquet(store, data_root):
            full = f"{data_root}/{rel}"
            if full in live:
                continue
            age = store.fs.age_seconds(full)
            if grace > 0 and age is not None and age < grace:
                in_grace += 1
            else:
                dead += 1
                if len(sample) < 20:
                    sample.append(rel)
        return {
            "dead_files": dead,
            "dead_in_grace": in_grace,
            "live_files": len(live),
            "prunable_log_entries": len([x for x in evs if x < cut]),
            "sample": sample,
        }

    def _prune_empty_dirs(self, store, base: str) -> None:
        if not store.fs.exists(base) or not store.fs.is_dir(base):
            return
        try:
            names = store.fs.listdir(base)
        except OSError:
            return  # racing vacuum removed it between the checks
        for name in names:
            child = f"{base}/{name}"
            if store.fs.is_dir(child):
                self._prune_empty_dirs(store, child)
                store.fs.rmdir_if_empty(child)

    # -- read side ----------------------------------------------------------
    def table_versions(self, store, path: str) -> list[int]:
        """Retained (fully-readable) manifest versions of a managed
        table, oldest first; [] for an unmanaged path. Each retained
        version's files survive vacuum, so any listed version is a
        valid ``read_table(version=...)`` target."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return []
        root, _ = resolved
        return sorted(
            int(name[:-5])
            for name in store.fs.listdir(f"{root}/{LOG_DIR}")
            if name.endswith(".json") and name[:-5].isdigit()
        )

    def _load_entry(self, store, path: str, root: str,
                    version: int | None = None) -> dict:
        """Reconstructed snapshot ({'version', 'tables', 'stats',
        'app'}) — the current state, or an exact retained version
        (time travel). Never-committed current state is an empty
        entry; a NAMED version that cannot be reconstructed raises
        the typed error (a concurrent vacuum pruning the chain
        mid-read surfaces the same way, never a raw
        FileNotFoundError). Vacuum keeps files AND an anchor for
        every retained entry, so any resolvable version is fully
        scannable."""
        v, state = self._reconstruct(store, root, version, label=path)
        if v < 0:
            return {"version": -1, "tables": {}}
        return {"version": v, **state}

    # -- deletion vectors (r14) ------------------------------------------
    # Merge-on-read row deletes: a file's stats block may carry
    # ``"dv": {"path": <blob relpath>, "count": n}`` — a reference to a
    # deletion-vector blob (parquet of ``file string, pos long`` rows)
    # listing the file's deleted row positions. The file's bytes never
    # move; reads anti-join the positions out. Exactly ONE current DV
    # per file: a later delete writes a superseding blob holding the
    # UNION of the file's positions, so any reader resolves one blob
    # per file. Blobs are immutable and referenced only through stats,
    # so time travel reads each version's own view and vacuum retains
    # a blob exactly as long as a retained version references it. The
    # Delta deletion-vector idea on this engine's log: a delete
    # touching k rows of a 1 GB file costs O(k), not a file rewrite —
    # compaction materializes (drops the dv'd rows) on its own clock.

    #: broadcast ceiling for the DV position mask, in POSITIONS
    #: summed over every DV'd file a single scan touches (r15,
    #: ADVICE): per-file debt is bounded (~20% by auto mode and
    #: debt-aware compaction), but a wide scan over MANY files each
    #: carrying moderate debt sums to O(all deleted positions) — at
    #: 100 TB that exceeds any broadcast ceiling and fails the query.
    #: At or below the threshold the mask broadcasts (today's plan: a
    #: map-side anti-join, zero shuffle on the data); above it the
    #: anti-join runs as a shuffle join — the data shuffles once on
    #: (file, pos), but scales without a driver/executor-memory
    #: ceiling. ~4M positions ≈ 100-200 MB broadcast (path string +
    #: long per row), inside a healthy executor budget.
    DV_BROADCAST_MAX_POSITIONS = 4_000_000

    @staticmethod
    def _dv_map(entry: dict, member: str, files) -> dict:
        """{relpath: dv block} for the subset of ``files`` carrying a
        deletion vector at this entry's snapshot."""
        stats = entry.get("stats", {}).get(member, {})
        out = {}
        for f in files:
            s = stats.get(f)
            if s and s.get("dv"):
                out[f] = s["dv"]
        return out

    @staticmethod
    def _file_key(path: str) -> str:
        """Driver-side join key for matching a scanned row's source
        file: the raw scheme-stripped path (engine paths are raw —
        never percent-encoded)."""
        import re

        return re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*:/+", "/", path)

    #: ``_metadata.file_path`` decoded to the same RAW form,
    #: executor-side. The metadata column is a URI: a hive partition
    #: value with a space reads as ``%20`` and its own hive escapes
    #: double-encode (``tag=c%25d`` on disk -> ``tag=c%2525d``), so
    #: comparing raw path strings against it silently mismatches —
    #: the one decode restores the on-disk spelling exactly.
    #: ``url_decode`` is form-decoding (raw ``+`` would become a
    #: space), so a raw ``+`` is pre-protected as ``%2B`` — correct
    #: whether the URI writer encoded it or not, since ``%`` itself
    #: is always encoded (verified: the double-encoded hive escapes).
    @staticmethod
    def _file_key_col():
        return F.regexp_replace(
            F.url_decode(
                F.regexp_replace(
                    F.col("_metadata.file_path"), r"\+", "%2B"
                )
            ),
            r"^[A-Za-z][A-Za-z0-9+.\-]*:/+",
            "/",
        )

    def dv_positions(self, store, base: str, dvmap: dict) -> DataFrame:
        """``(file, pos)`` deleted-row coordinates for the files in
        ``dvmap`` — each file's rows read from exactly ITS referenced
        blob (an older blob may hold a superseded subset for the same
        file while another file still references it)."""
        blobs = sorted({d["path"] for d in dvmap.values()})
        mapping = store.spark.createDataFrame(
            [
                (f, self._file_key(f"{base}/{d['path']}"))
                for f, d in dvmap.items()
            ],
            "file string, __dv_blob string",
        )
        # explicit schema: the blob layout is fixed by stage_dv's own
        # CAST projection, and schema inference on a parquet read is a
        # driver Spark JOB — one per DV-filtered scan, pure overhead
        # on every read/merge/delete of a DV'd member (r18, guide §1.2)
        rows = store.spark.read.schema("file string, pos long").parquet(
            *[f"{base}/{b}" for b in blobs]
        ).select(
            "file",
            "pos",
            self._file_key_col().alias("__dv_blob"),
        )
        return rows.join(
            F.broadcast(mapping), ["file", "__dv_blob"]
        ).drop("__dv_blob")

    def _dv_deletes(self, store, base: str, dvmap: dict) -> DataFrame:
        """``dv_positions`` keyed by source-file basename — the
        anti-join shape ``_dv_scan`` consumes."""
        rels = store.spark.createDataFrame(
            [(f, self._file_key(f"{base}/{f}")) for f in dvmap],
            "file string, __dv_path string",
        )
        return (
            self.dv_positions(store, base, dvmap)
            .join(F.broadcast(rels), "file")
            .select("__dv_path", F.col("pos").alias("__dv_pos"))
        )

    def _dv_scan(
        self, store, base: str, files, meta: dict, dvmap: dict,
        schema=None, logical: bool = True, keep_pos: bool = False,
    ) -> DataFrame:
        """Scan ``files`` honoring deletion vectors: dv'd files read
        with per-row (file, position) metadata and broadcast-anti-join
        their recorded deleted positions out — O(deleted rows) join
        side, no shuffle on the data; plain files scan untouched.
        ``logical`` assembles the schema-mapped view after the
        position filter (positions are physical-file coordinates).
        ``keep_pos`` keeps ``__dv_file`` (relpath) and ``__dv_pos``
        columns on EVERY row — the write path of a DV delete needs the
        coordinates of the rows it matches."""
        plain = [f for f in files if f not in dvmap]
        dvd = [f for f in files if f in dvmap]

        def scan(subset):
            if meta:
                return self._physical_scan(store, base, subset, meta)
            r = store.spark.read.option("basePath", base)
            if schema is not None:
                r = r.schema(schema)
            return r.parquet(*[f"{base}/{f}" for f in subset])

        def with_pos(df):
            clash = {"__dv_path", "__dv_pos", "__dv_file"} & set(
                df.columns
            )
            if clash:
                raise ValidationError(
                    f"deletion-vector scan: column(s) {sorted(clash)} "
                    "collide with the position-tracking columns — "
                    "rename them before using DV mutation on this "
                    "member"
                )
            return df.withColumns(
                {
                    "__dv_path": self._file_key_col(),
                    "__dv_pos": F.col("_metadata.row_index"),
                }
            )

        parts = []
        if plain:
            df = scan(plain)
            parts.append(with_pos(df) if keep_pos else df)
        if dvd:
            raw = with_pos(scan(dvd))
            dels = self._dv_deletes(
                store, base, {f: dvmap[f] for f in dvd}
            )
            # size-gate the mask (r15, ADVICE): the recorded per-file
            # counts price the anti-join side at PLAN time — total
            # scanned debt within the ceiling broadcasts (map-side
            # anti-join, no shuffle on the data); past it, or with any
            # count unrecorded, the join shuffles instead of blowing
            # the broadcast ceiling. Same rows either way (plan-gated
            # both modes in tests/test_deletion_vectors.py).
            total_dv = 0
            for f in dvd:
                c = (dvmap[f] or {}).get("count")
                if c is None:
                    total_dv = None
                    break
                total_dv += int(c)
            small = (
                total_dv is not None
                and total_dv <= self.DV_BROADCAST_MAX_POSITIONS
            )
            # the explicit shuffle_hash hint keeps the big path
            # deterministic: the mask side hashes per partition (it is
            # per-key tiny), and Spark cannot silently re-pick a
            # driver-sized broadcast from a stale size estimate
            filt = raw.join(
                F.broadcast(dels) if small else dels.hint("shuffle_hash"),
                ["__dv_path", "__dv_pos"],
                "left_anti",
            )
            parts.append(
                filt if keep_pos else filt.drop("__dv_path", "__dv_pos")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        extra = ()
        if keep_pos:
            # resolve the raw-path key back to the member relpath
            rels = store.spark.createDataFrame(
                [(self._file_key(f"{base}/{f}"), f) for f in files],
                "__dv_path string, __dv_file string",
            )
            out = out.join(F.broadcast(rels), "__dv_path").drop(
                "__dv_path"
            )
            extra = ("__dv_file", "__dv_pos")
        if meta and logical:
            out = self._logical_view_extra(out, meta, extra)
            if schema is not None:
                if extra:
                    # schema projection + the position-tracking
                    # passthrough columns (the plain projection names
                    # only table columns and would drop them)
                    from pyspark.sql import types as T

                    st = (
                        schema
                        if isinstance(schema, T.StructType)
                        else T.StructType.fromDDL(schema)
                    )
                    present = set(out.columns)
                    out = out.select(
                        *[
                            (
                                F.col(f.name).cast(f.dataType)
                                if f.name in present
                                else F.lit(None).cast(f.dataType)
                            ).alias(f.name)
                            for f in st.fields
                            if f.name not in extra
                        ],
                        *[F.col(c) for c in extra],
                    )
                else:
                    out = self._apply_logical_schema(store, out, schema)
        return out

    @classmethod
    def _logical_view_extra(cls, df, meta, extra):
        """The one physical->logical assembly (``_logical_view`` is
        the extra=() form): inverse-rename mapped columns, exclude
        dropped ones, rebuild structs under nested specs (r15), apply
        widening casts — keeping the named passthrough columns."""
        from pyspark.sql import types as T

        mapping = meta.get("map", {})
        widen = meta.get("widen", {})
        dropped = set(meta.get("drop", []))
        nested = meta.get("nested", {})
        inv = {p: l for l, p in mapping.items()}
        cols = []
        for f in df.schema.fields:
            c = f.name
            if c in extra:
                cols.append(F.col(c))
                continue
            if c in dropped:
                continue
            logical = inv.get(c, c)
            col = F.col(c)
            if (
                nested
                and cls._nested_dispatchable(f.dataType)
                and cls._nested_under(nested, c)
            ):
                col = cls._nested_logical_any(col, f.dataType, c, nested)
            if logical in widen:
                col = col.cast(widen[logical])
            cols.append(col.alias(logical))
        return df.select(*cols)

    def scan_member_subset(
        self, store, path: str, files, *, logical: bool = True,
        schema=None, version: int | None = None,
        keep_pos: bool = False, plan: dict | None = None,
    ) -> DataFrame:
        """DV-aware scan of an explicit file subset of a manifest
        member — the one reader every row-level rewrite path
        (merge/delete planning, compaction, Z-order) must use, so a
        rewrite can never resurrect rows a deletion vector removed.
        ``logical=False`` keeps physical column names (maintenance
        rewrites store physical). A caller-passed ``plan`` dict is
        filled with ``{"dv": {relpath: blob path or None}}`` — the
        exact DV state this scan filters through, which a rewrite
        built from it must hand ``rewrite_files(plan_dv=...)`` so the
        commit CAS-detects a concurrent restat (r15)."""
        if not files:
            raise ValidationError(
                "scan_member_subset: empty file subset (callers "
                "handle the no-affected-files case before scanning)"
            )
        resolved = self._resolve(store, path)
        if resolved is None:
            raise ValidationError(
                f"scan_member_subset: {path!r} is not manifest-managed"
            )
        root, member = resolved
        entry = self._load_entry(store, path, root, version)
        meta = entry.get("app", {}).get(self._schema_key(member)) or {}
        dvmap = self._dv_map(entry, member, files)
        if plan is not None:
            plan["dv"] = {
                f: (dvmap.get(f) or {}).get("path") for f in files
            }
        base = self._member_root(root, member)
        return self._dv_scan(
            store, base, files, meta, dvmap,
            schema=schema, logical=logical, keep_pos=keep_pos,
        )

    def stage_dv(self, store, path: str, dv_df: DataFrame) -> str:
        """Stage a deletion-vector blob (``file`` string relpath,
        ``pos`` long) for ``path``'s member and return its relpath —
        invisible until a commit references it from a file's stats
        ``dv`` block (``rewrite_files(restat=...)``); an orphaned blob
        ages out through vacuum's grace window like any abandoned
        stage."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"stage_dv: {path!r} is not manifest-managed"
            )
        root, member = target
        rels = self._stage_in(
            store, root, member,
            lambda tmp: dv_df.selectExpr(
                "CAST(file AS STRING) AS file", "CAST(pos AS LONG) AS pos"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp),
        )
        if len(rels) != 1:
            raise ValidationError(
                f"stage_dv: expected one staged blob, got {rels!r}"
            )
        return rels[0]

    def read_table(
        self, store, path: str, schema=None, version: int | None = None
    ) -> DataFrame:
        resolved = self._resolve(store, path)
        if resolved is None:
            return super().read_table(store, path, schema, version=version)
        root, member = resolved
        entry = self._load_entry(store, path, root, version)
        files = entry["tables"].get(member, [])
        if not files:
            if schema is not None:
                return store.spark.createDataFrame([], schema)
            raise FileNotFoundError(path)
        base = self._member_root(root, member)
        reader = store.spark.read.option("basePath", base)
        meta = entry.get("app", {}).get(self._schema_key(member)) or {}
        dvmap = self._dv_map(entry, member, files)
        if dvmap:
            # deletion vectors in play: position-filtered scan (plans
            # identically to the plain path when no file carries one)
            return self._dv_scan(
                store, base, files, meta, dvmap, schema=schema
            )
        if meta:
            # mapped member: scan physical, assemble the logical view;
            # the caller's schema projects onto it (cast + additive
            # null-fill) — the entry's OWN app map carries the
            # mapping, so time travel sees the view as of that version
            df = self._mapped_scan(store, base, files, meta)
            if schema is not None:
                df = self._apply_logical_schema(store, df, schema)
            return df
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[f"{base}/{f}" for f in files])

    @classmethod
    def _stat_overlaps(cls, stat: dict, lo, hi) -> bool:
        """May any value in [file.min, file.max] fall in [lo, hi]?
        Values normalize through ``_norm_scalar`` (so a tagged
        timestamp stat compares against a live datetime bound);
        incomparable kinds (schema drift, string stat vs numeric
        bound) answer True — pruning must never be wrong, only
        incomplete."""
        mn = cls._norm_scalar(stat.get("min"))
        mx = cls._norm_scalar(stat.get("max"))
        if mn is None or mx is None:
            return True
        nlo = cls._norm_scalar(lo)
        nhi = cls._norm_scalar(hi)
        if lo is not None:
            if nlo is None or nlo[0] != mx[0]:
                return True
            if mx[1] < nlo[1]:
                return False
        if hi is not None:
            if nhi is None or nhi[0] != mn[0]:
                return True
            if mn[1] > nhi[1]:
                return False
        return True

    @classmethod
    def _sorted_sets(cls, predicates: dict) -> dict:
        """Pre-sorted, kind-bucketed copies of every membership-set
        predicate (kinds from ``_norm_scalar``: numeric, string,
        timestamp, date): membership checks become a bisect into
        [min, max] rather than O(|set|) per file — a 100k-key probe
        set over a large file list stays cheap driver-side."""
        sorted_sets: dict = {}
        for col, bounds in (predicates or {}).items():
            if isinstance(bounds, (set, frozenset)):
                buckets: dict = {}
                for v in bounds:
                    nv = cls._norm_scalar(v)
                    if nv is not None:
                        buckets.setdefault(nv[0], []).append(nv[1])
                sorted_sets[col] = {
                    k: sorted(vs) for k, vs in buckets.items()
                }
        return sorted_sets

    @classmethod
    def _stats_may_match(
        cls, fstats: dict | None, predicates: dict, sorted_sets: dict
    ) -> bool:
        """May the file described by ``fstats`` contain a row matching
        every predicate? The single source of truth for skipping
        semantics (``prune_files``, the merge key-envelope guard):
        True is the safe answer — a file is excluded only when its
        recorded min/max PROVE no row can match, so files without
        stats, unindexed columns, and incomparable types all answer
        True. ``sorted_sets`` is ``_sorted_sets(predicates)``."""
        import bisect

        if fstats is None:
            return True
        if fstats.get("rows") == 0:
            return False  # provably empty: no predicate needed
        dv = fstats.get("dv")
        if (
            dv
            and fstats.get("rows") is not None
            and int(fstats["rows"]) - int(dv.get("count", 0)) <= 0
        ):
            return False  # every row deletion-vectored out
        colstats = fstats.get("cols", {})
        for col, bounds in (predicates or {}).items():
            st = colstats.get(col)
            if st is None:
                continue
            if col in sorted_sets:
                mn = cls._norm_scalar(st.get("min"))
                mx = cls._norm_scalar(st.get("max"))
                if mn is None or mx is None or mn[0] != mx[0]:
                    continue
                vals = sorted_sets[col].get(mn[0], [])
                if not vals:
                    # no value of the stat's kind in the set: the
                    # predicate is incomparable with this file's stats
                    # — keep (superset-safe; also covers the
                    # degenerate empty set)
                    continue
                i = bisect.bisect_left(vals, mn[1])
                if not (i < len(vals) and vals[i] <= mx[1]):
                    return False
                continue
            lo, hi = bounds
            if not cls._stat_overlaps(st, lo, hi):
                return False
        return True

    def prune_files(
        self,
        store,
        path: str,
        predicates: dict,
        version: int | None = None,
    ):
        """Data skipping over the manifest's per-file column stats:
        the committed file list filtered to files that MAY satisfy
        every predicate. ``predicates`` maps column name to either an
        inclusive ``(lo, hi)`` bound (tuple/list, either side None =
        unbounded) or a ``set``/``frozenset`` of values (membership:
        the file survives if ANY value falls within its min/max —
        exact for hive-partition columns, whose stats are min==max).
        Returns ``(kept_relpaths, total_files)``; None for an
        unmanaged path (directory mode has no stats).

        Guarantees: a file is dropped only when its recorded min/max
        PROVE no row can match — files without stats (pre-stats
        entries, unreadable footers, unindexed columns) always
        survive, so the result is a superset of the matching files and
        the caller's real filter stays mandatory.

        Timezone convention (ADVICE r12): NAIVE datetime/timestamp
        predicate values are interpreted as UTC, matching how stats
        are recorded from parquet footers. Spark row filters interpret
        naive literals in the SESSION timezone — the engine pins UTC
        (``session.py``), but on a user-supplied non-UTC session a
        naive datetime predicate here could prune files whose rows the
        row filter would match. Either pin the session to UTC or pass
        tz-aware datetimes."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return None
        root, member = resolved
        entry = self._load_entry(store, path, root, version)
        files = entry["tables"].get(member, [])
        stats = entry.get("stats", {}).get(member, {})
        meta = entry.get("app", {}).get(self._schema_key(member)) or {}
        if meta.get("map") or meta.get("nested"):
            # predicates arrive on LOGICAL names (dotted for nested
            # struct leaves, r15); stats are recorded under physical
            # ones. Superset-safety across widening is free:
            # _norm_scalar kind-normalizes numeric widths.
            predicates = {
                self._phys_dotted(meta, c): b
                for c, b in predicates.items()
            }
        sorted_sets = self._sorted_sets(predicates)
        kept = [
            f for f in files
            if self._stats_may_match(stats.get(f), predicates, sorted_sets)
        ]
        return kept, len(files)

    def read_table_pruned(
        self,
        store,
        path: str,
        schema=None,
        predicates: dict | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """``read_table`` with manifest-stats file skipping: plans the
        scan over only the files whose stats overlap ``predicates``
        (see ``prune_files``). At 100 TB this is the difference
        between listing/opening every cold snapshot ever written and
        touching the handful overlapping the query's range — pruning
        happens at PLAN time from the log entry, before any file IO.
        The caller must still apply the real row filter (skipping is
        file-granular). Stats cover only the leading
        ``STATS_MAX_COLS`` schema columns: a predicate on a column
        past the cap is correct but never skips — keep probe keys in
        the leading columns (or raise the cap at construction)."""
        pruned = (
            None if not predicates
            else self.prune_files(store, path, predicates, version=version)
        )
        if pruned is None:
            return self.read_table(store, path, schema, version=version)
        kept, total = pruned
        if not kept:
            if schema is not None:
                return store.spark.createDataFrame([], schema)
            # no schema and everything pruned: derive the schema from
            # the full (unpruned) table, returning its empty slice
            return self.read_table(store, path, None, version=version).limit(0)
        root, member = self._resolve(store, path)
        base = self._member_root(root, member)
        reader = store.spark.read.option("basePath", base)
        # the REQUESTED version's app map, so a time-travel read sees
        # the logical view as of that version — same as read_table
        entry = self._load_entry(store, path, root, version)
        meta = entry.get("app", {}).get(self._schema_key(member)) or {}
        dvmap = self._dv_map(entry, member, kept)
        if dvmap:
            return self._dv_scan(
                store, base, kept, meta, dvmap, schema=schema
            )
        if meta:
            df = self._mapped_scan(store, base, kept, meta)
            if schema is not None:
                df = self._apply_logical_schema(store, df, schema)
            return df
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[f"{base}/{f}" for f in kept])

    def _change_walk(
        self, store, path: str, root: str, member: str,
        since: int, to: int | None,
    ):
        """Per-version change records for ``member`` over
        ``(since, to]``: a list of ``(version, change_meta, added,
        removed, added_stats)`` where ``added_stats`` maps each added
        relpath to its recorded stats block (or None) — delta entries
        carry them inline, full entries in their stats map, so feed
        consumers can data-skip added files without touching storage.
        Reconstructs once at ``since`` and folds each raw entry
        forward — O(commits in range), each delta entry read is O(its
        change). Raises the typed errors for invalid ranges."""
        _, state = self._reconstruct(store, root, since, label=path)
        cur = list(state["tables"].get(member, []))
        if to is None:
            to, _ = self._current(store, root)
        if to < since:
            raise ValidationError(
                f"read_changes: to_version {to} precedes "
                f"since_version {since}"
            )
        out = []
        for v in range(since + 1, to + 1):
            entry = self._read_entry_raw(store, root, v, path)
            if "tables" in entry:
                new = entry["tables"].get(member, [])
                olds, news = set(cur), set(new)
                added = [f for f in new if f not in olds]
                removed = [f for f in cur if f not in news]
                cur = list(new)
                estats = entry.get("stats", {}).get(member, {})
                added_stats = {f: estats.get(f) for f in added}
            else:
                delta = entry.get("delta", {})
                add_map = delta.get("add", {}).get(member, {})
                added = list(add_map)
                removed = list(delta.get("remove", {}).get(member, []))
                gone = set(removed)
                cur = [f for f in cur if f not in gone] + added
                added_stats = dict(add_map)
            ch = entry.get("change") or {}
            restated = list(
                entry.get("delta", {}).get("restat", {}).get(member, {})
            )
            if restated:
                # a restat (DV attach) changes row CONTENT with the
                # file list standing still — feed consumers must see
                # it (marked cdf: row feed serves it; unmarked: every
                # feed raises, never silently misses the delete)
                ch = {**ch, "restat": restated}
            out.append((v, ch, added, removed, added_stats))
        return out

    def _files_reader(self, store, root: str, member: str, files,
                      schema=None):
        base = self._member_root(root, member)
        reader = store.spark.read.option("basePath", base)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[f"{base}/{f}" for f in files])

    def read_changes(
        self,
        store,
        path: str,
        since_version: int,
        to_version: int | None = None,
        schema=None,
        predicates: dict | None = None,
    ) -> DataFrame:
        """Change feed: the rows APPENDED to a member table between two
        retained manifest versions — the files added by plain append
        commits in the range (data files are immutable, so new files
        ARE the new rows).

        This is the incremental-consumer primitive: a downstream job
        records the version it last processed and reads only the delta
        on its next run — no full-table diff, no re-scan, O(new data)
        — the Delta CDF / Iceberg incremental-scan idiom on the log
        the manifest already keeps.

        Content-preserving rewrites (small-file compaction, Z-order —
        commits marked ``change: {"kind": "preserve"}``) neither add
        nor remove rows and are SKIPPED, so routine maintenance never
        breaks a feed: an in-range append whose file a later preserve
        commit folded away still reads (retention keeps every retained
        version's files), and the rewrite's own output files are not
        double-counted. Any OTHER removal (LWW compaction, partition
        overwrite, drop) or a row-level ``cdf`` commit (merge/delete —
        consumable via ``read_row_changes``, not as plain appends)
        raises the typed ``NonAppendHistoryError`` — the consumer
        falls back to a full recompute, never silently double- or
        under-counts. Versions outside vacuum's retained horizon raise
        ``VersionNotFoundError`` (``table_versions`` lists the valid
        range).

        ``predicates`` (same shape as ``prune_files``) data-skips the
        ADDED files from the stats the entries already carry — a
        consumer following one key band plans over only the delta
        files whose stats overlap it, zero extra log or storage IO;
        the caller's row filter stays mandatory (superset guard)."""
        resolved = self._resolve(store, path)
        if resolved is None:
            raise VersionNotFoundError(
                f"{path!r} is not a manifest-managed table; change "
                "feeds need the version log"
            )
        root, member = resolved
        walk = self._change_walk(
            store, path, root, member, since_version, to_version
        )
        sorted_sets = self._sorted_sets(predicates or {})
        added: list[str] = []
        # mapped members (r13 schema evolution): files carry physical
        # names; the feed serves the CURRENT logical view, same as
        # read_table, and translates prune predicates to physical
        smeta = self.schema_meta(store, path)
        if predicates and smeta.get("map"):
            predicates = {
                smeta["map"].get(c, c): b for c, b in predicates.items()
            }
            sorted_sets = self._sorted_sets(predicates)
        for v, change, adds, removes, astats in walk:
            kind = change.get("kind")
            if kind == "cdf" and change.get(
                "cdf_member"
            ) != self.cdf_member_of(member):
                # change metadata is entry-global: a row-level commit
                # on a SIBLING member of the same root must be read as
                # this member's plain file diff, not as its changes
                kind = None
            if kind == "preserve":
                continue
            if kind == "cdf" or removes or change.get("restat"):
                detail = (
                    "a row-level merge/delete landed (use "
                    "read_row_changes to consume it)"
                    if kind == "cdf"
                    else f"{len(removes)} file(s) removed at version "
                    f"{v} (first: {removes[0]})"
                    if removes
                    else "a deletion vector changed row content at "
                    f"version {v} without row-level change metadata"
                )
                raise NonAppendHistoryError(
                    f"history of {path!r} between versions "
                    f"{since_version} and "
                    f"{to_version if to_version is not None else 'current'}"
                    f" is not append-only: {detail}; recompute from "
                    "the newer snapshot instead"
                )
            added.extend(
                f for f in adds
                if not predicates
                or self._stats_may_match(
                    astats.get(f), predicates, sorted_sets
                )
            )
        if not added:
            if schema is not None:
                return store.spark.createDataFrame([], schema)
            return self.read_table(
                store, path, None, version=to_version
            ).limit(0)
        if smeta:
            # widen-safe forced-schema scan: the added files can mix
            # physical widths across a widen boundary
            df = self._mapped_scan(
                store, self._member_root(root, member), added, smeta
            )
            return (
                self._apply_logical_schema(store, df, schema)
                if schema is not None
                else df
            )
        return self._files_reader(store, root, member, added, schema)

    #: change-type column name in ``read_row_changes`` output (the
    #: Delta CDF ``_change_type`` convention): 'insert' (plain
    #: append), 'upsert' (merge source row), 'delete' (erased row)
    CDF_TYPE_COL = "_change_type"
    CDF_VERSION_COL = "_commit_version"

    def read_row_changes(
        self,
        store,
        path: str,
        since_version: int,
        to_version: int | None = None,
        predicates: dict | None = None,
    ) -> DataFrame | None:
        """ROW-level change feed over ``(since, to]`` — the Delta CDF
        idiom: every commit contributes typed change rows, so an
        incremental consumer survives merges and deletes, not just
        appends. Returns the table's columns plus ``_change_type``
        ('insert' | 'upsert' | 'delete') and ``_commit_version``, or
        None when the range contributed no changes (caller treats as
        empty).

        Sources per commit kind: plain appends read their added files
        as 'insert' rows; ``preserve`` rewrites contribute nothing;
        ``cdf`` commits (merge_into / delete_rows / replace_range) read
        the change files their entry recorded — written ATOMICALLY
        with the rewrite, stored outside the table's member list and
        vacuum-retained exactly as long as their entry, so the feed
        self-expires with the retention horizon. Any unmarked removal
        still raises ``NonAppendHistoryError`` (e.g. LWW compaction,
        which rewrites content the feed cannot express)."""
        from pyspark.sql import functions as F

        resolved = self._resolve(store, path)
        if resolved is None:
            raise VersionNotFoundError(
                f"{path!r} is not a manifest-managed table; change "
                "feeds need the version log"
            )
        root, member = resolved
        walk = self._change_walk(
            store, path, root, member, since_version, to_version
        )
        sorted_sets = self._sorted_sets(predicates or {})
        parts = []
        # mapped members serve the CURRENT logical view (r13) — both
        # the insert files and historical CDF files carry physical
        # names; predicates translate to physical for the stats skip
        smeta = self.schema_meta(store, path)
        if predicates and smeta.get("map"):
            predicates = {
                smeta["map"].get(c, c): b for c, b in predicates.items()
            }
            sorted_sets = self._sorted_sets(predicates)

        def scan(mem, files):
            # widen-safe on mapped members: forced physical schema
            # across mixed-width generations, then the logical view
            if smeta:
                return self._mapped_scan(
                    store, self._member_root(root, mem), files, smeta
                )
            return self._files_reader(store, root, mem, files)

        for v, change, adds, removes, astats in walk:
            kind = change.get("kind")
            if kind == "cdf" and change.get(
                "cdf_member"
            ) != self.cdf_member_of(member):
                # sibling member's row-level commit (entry-global
                # metadata): treat as this member's plain file diff
                kind = None
            if kind == "preserve":
                continue
            if kind == "cdf":
                files = change.get("files", [])
                if files:
                    parts.append(
                        scan(change["cdf_member"], files).withColumn(
                            self.CDF_VERSION_COL, F.lit(v)
                        )
                    )
                continue
            if removes:
                raise NonAppendHistoryError(
                    f"history of {path!r} at version {v} removed "
                    f"{len(removes)} file(s) (first: {removes[0]}) "
                    "without change metadata; recompute from the "
                    "newer snapshot instead"
                )
            if change.get("restat"):
                raise NonAppendHistoryError(
                    f"history of {path!r} at version {v} attached a "
                    "deletion vector without row-level change "
                    "metadata; recompute from the newer snapshot "
                    "instead"
                )
            if predicates:
                # insert files data-skip on the stats the entries
                # carry; CDF files (above) are tiny and read whole —
                # the caller's row filter stays mandatory either way
                adds = [
                    f for f in adds
                    if self._stats_may_match(
                        astats.get(f), predicates, sorted_sets
                    )
                ]
            if adds:
                parts.append(
                    scan(member, adds)
                    .withColumn(self.CDF_TYPE_COL, F.lit("insert"))
                    .withColumn(self.CDF_VERSION_COL, F.lit(v))
                )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_app_meta(self, store, path: str) -> dict:
        """The root's application-metadata map (``app`` in the newest
        log entry) — consumer cursors recorded via
        ``append_table_with_meta``'s atomic commit. Empty for a table
        with no entries (or an unmanaged path)."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return {}
        root, _ = resolved
        _, entry = self._current_entry(store, root)
        return entry.get("app", {})

    @staticmethod
    def _app_cas_guard(expected_app: dict):
        """Entry guard enforcing compare-and-set on ``app`` keys: the
        commit lands only if every named key still holds the value the
        caller read at planning time (None = must be absent). Checked
        inside the optimistic-commit loop against the exact entry the
        commit lands on, so two consumers that both read cursor v and
        both try to advance it cannot BOTH succeed — the loser's
        planning state is stale and it raises instead of
        double-appending the same delta."""
        exp = dict(expected_app)

        def guard(prev):
            cur = prev.get("app", {})
            for k, v in exp.items():
                if cur.get(k) != v:
                    raise RewriteConflictError(
                        f"app-meta CAS failed for {k!r}: expected "
                        f"{v!r}, found {cur.get(k)!r} — a concurrent "
                        "consumer advanced this cursor; re-plan from "
                        "fresh state"
                    )

        return guard

    def append_table_with_meta(
        self, store, path: str, df, app_meta: dict,
        expected_app: dict | None = None,
    ) -> None:
        """Append ``df``'s rows AND merge ``app_meta`` into the ``app``
        map in ONE atomic log entry — the Delta ``txn`` idiom: a
        consumer records the source position it just processed in the
        same commit as the rows it derived, so a crash leaves either
        both or neither, and replay is exactly-once (see
        ``changefeed.mirror_changes``). ``df=None`` commits metadata
        only (an empty delta still advances the cursor).

        ``expected_app`` adds the CAS leg of the idiom: the commit
        succeeds only while each named ``app`` key still holds the
        given value (None = absent), raising ``RewriteConflictError``
        otherwise — without it, two concurrent consumers sharing an
        app_id would both pass their planning-time cursor check and
        both append the same delta."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"{path!r} is not manifest-managed; atomic app-meta "
                "commits need the log"
            )
        root, member = target
        if df is not None:
            df = self._to_physical(store, root, member, df)
        files = (
            self._stage_data(
                store, root, member,
                lambda tmp: df.write.mode("overwrite").parquet(tmp),
            )
            if df is not None
            else []
        )
        mutate = lambda t: {**t, member: t.get(member, []) + files}  # noqa: E731
        mutate.stats_add = self._file_stats(store, root, member, files)
        mutate.app_meta = dict(app_meta)
        if expected_app is not None:
            mutate.entry_guard = self._app_cas_guard(expected_app)
        self._commit(store, root, mutate)

    def replace_table_with_meta(
        self, store, path: str, df, app_meta: dict,
        expected_app: dict | None = None,
    ) -> None:
        """Replace the member's content with ``df`` AND merge
        ``app_meta``, one atomic entry — the full-resync twin of
        ``append_table_with_meta`` (a mirror rebuilding from a source
        snapshot). No rewrite-conflict check on the FILE list (the
        destination is owned by its consumer), but ``expected_app``
        gives the same cursor CAS as the append path — a racing
        consumer with the same app_id raises instead of silently
        interleaving. Vacuums with the retention margin afterwards."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"{path!r} is not manifest-managed; atomic app-meta "
                "commits need the log"
            )
        root, member = target
        df = self._to_physical(store, root, member, df)
        files = self._stage_data(
            store, root, member,
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )
        mutate = lambda t: {**t, member: files}  # noqa: E731
        mutate.stats_add = self._file_stats(store, root, member, files)
        mutate.app_meta = dict(app_meta)
        if expected_app is not None:
            mutate.entry_guard = self._app_cas_guard(expected_app)
        self._commit(store, root, mutate)
        self.vacuum(store, root)

    def table_exists(self, store, path: str) -> bool:
        resolved = self._resolve(store, path)
        if resolved is None:
            return super().table_exists(store, path)
        root, member = resolved
        version, tables = self._current(store, root)
        return version >= 0 and bool(tables.get(member))

    def table_file_count(self, store, path: str) -> int:
        resolved = self._resolve(store, path)
        if resolved is None:
            return super().table_file_count(store, path)
        root, member = resolved
        _, tables = self._current(store, root)
        return len(tables.get(member, []))

    def member_files(
        self, store, path: str, version: int | None = None
    ) -> list[str] | None:
        """Committed file relpaths of a member table (None for an
        unmanaged path) — lets consumers do file-set-aware probes
        (e.g. the admission Bloom sidecar's compacted-vs-tail split,
        the incremental Z-order pass's clustered-through diff).
        ``version`` reads a retained historical entry
        (``VersionNotFoundError`` past vacuum's horizon)."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return None
        root, member = resolved
        if version is not None:
            entry = self._load_entry(store, path, root, version)
            return list(entry["tables"].get(member, []))
        _, tables = self._current(store, root)
        return list(tables.get(member, []))

    def version_history(self, store, path: str) -> list[dict]:
        """The retained commit history, oldest first: one
        ``{"version", "ts_ms", "members": {name: n_files}, "app"}``
        row per retained log entry (``ts_ms`` None for entries written
        before timestamps were recorded). Driver-side metadata only —
        no storage reads beyond the log."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return []
        root, _ = resolved
        # Re-list and retry on a MISSING entry mid-walk (ADVICE r12):
        # a racing vacuum pruning an entry between our listing and its
        # read must surface as a fresh walk over the new horizon — the
        # same contract _reconstruct gives — never a raw
        # FileNotFoundError from read_text.
        last_err = None
        for _ in range(3):
            versions = self.table_versions(store, path)
            if not versions:
                return []
            out = []
            try:
                # one reconstruction for the oldest retained version,
                # then the remaining entries fold forward
                # incrementally — O(history), not O(history^2)
                _, state = self._reconstruct(
                    store, root, versions[0], label=path
                )
                for i, v in enumerate(versions):
                    entry = self._read_entry_raw(store, root, v, path)
                    if i > 0:
                        self._apply_entry(state, entry)
                    delta = entry.get("delta")
                    out.append(
                        {
                            "version": v,
                            "ts_ms": entry.get("ts_ms"),
                            "members": {
                                m: len(fs_)
                                for m, fs_ in state["tables"].items()
                            },
                            "app": dict(state["app"]),
                            # r17 (DESCRIBE HISTORY operation column):
                            # the entry's own change metadata + delta
                            # shape; None counts = a full (non-delta)
                            # entry
                            "change": dict(entry.get("change") or {}),
                            "n_added": (
                                sum(
                                    len(fs_)
                                    for fs_ in delta.get(
                                        "add", {}
                                    ).values()
                                )
                                if delta is not None
                                else None
                            ),
                            "n_removed": (
                                sum(
                                    len(fs_)
                                    for fs_ in delta.get(
                                        "remove", {}
                                    ).values()
                                )
                                if delta is not None
                                else None
                            ),
                        }
                    )
                return out
            except VersionNotFoundError as exc:
                if not getattr(exc, "missing", False):
                    raise
                last_err = exc
        raise last_err

    def resolve_version_asof(self, store, path: str, ts_ms: int) -> int:
        """The newest retained version committed at or before
        ``ts_ms`` — the time-travel-by-timestamp resolver
        (``read_table(version=resolve_version_asof(...))``). Raises
        ``VersionNotFoundError`` when every retained entry is newer
        (the wanted snapshot is past vacuum's horizon) or the history
        predates timestamps."""
        best = None
        for h in self.version_history(store, path):
            if h["ts_ms"] is not None and h["ts_ms"] <= int(ts_ms):
                best = h["version"]
        if best is None:
            raise VersionNotFoundError(
                f"no retained version of {path!r} at or before "
                f"ts_ms={ts_ms} (vacuumed, or pre-timestamp history)"
            )
        return best

    def restore_table(self, store, path: str, version: int) -> int:
        """Delta's ``RESTORE TABLE ... VERSION AS OF`` (r16): ONE
        metadata-only commit sets the member's file list (and those
        files' recorded stats) back to what retained ``version``
        listed — the undo for a bad merge/delete/overwrite. Nothing
        moves on disk: immutable data files of a RETAINED version are
        still present (vacuum only collects files unreferenced by
        every retained entry), so restore costs one log entry and the
        restore itself is a new version — history keeps flowing
        forward and the mistake stays inspectable via time travel.

        Scope, deliberately: FILES ONLY. Schema-evolution metadata
        (column mapping, constraints, cursors in the ``app`` map)
        stays CURRENT — physical names are immutable, so the current
        logical view serves the restored files exactly; columns added
        after ``version`` read as NULL from them, columns dropped
        after it stay dropped. Returns the restored file count.

        Concurrency: conflicts if the member's file list changed
        between planning and commit (the snapshot_rewrite posture —
        a racing append silently wiped by the restore would be a
        lost update). Feed consumers see a non-append entry and
        resync loudly — a restore rewrites history's effect, the one
        thing an incremental feed cannot express (Delta's RESTORE
        breaks CDF streams the same way)."""
        target = self._target_for_write(store, path)
        if target is None:
            raise ValidationError(
                f"restore_table: {path!r} is not manifest-managed"
            )
        root, member = target
        old = self._load_entry(store, path, root, int(version))
        files = list(old["tables"].get(member, []))
        stats = old.get("stats", {}).get(member, {})
        cur_entry = self._load_entry(store, path, root, None)
        base = list(cur_entry["tables"].get(member, []))
        cur_stats = cur_entry.get("stats", {}).get(member, {})
        # files that STAY listed must get their old stats BLOCK back
        # too — a DV-mode delete changes row content while the file
        # list stays identical (the positions blob lives in stats), so
        # comparing lists alone would no-op past it. Restored blocks
        # ride the explicit ``restat`` delta op (a plain stats_add for
        # an already-listed file would be dropped by delta
        # reconstruction, which only carries stats for ADDED files).
        kept = [f for f in files if f in set(base)]
        restat = {
            f: (stats.get(f) or {})
            for f in kept
            if (stats.get(f) or {}) != (cur_stats.get(f) or {})
        }
        if base == files and not restat:
            return len(files)  # already that state: idempotent no-op
        # CAS each kept file's deletion-vector reference: a DV attach
        # landing between planning and this commit must conflict, not
        # be silently clobbered back to the restored block
        expected_dv = {
            f: ((cur_stats.get(f) or {}).get("dv") or {}).get("path")
            for f in kept
        }

        def guard(prev):
            pstats = prev.get("stats", {}).get(member, {})
            for f, exp in expected_dv.items():
                cur = ((pstats.get(f) or {}).get("dv") or {}).get(
                    "path"
                )
                if cur != exp:
                    raise RewriteConflictError(
                        f"restore_table({path!r}, {version}): the "
                        f"deletion vector of {f} changed since "
                        "planning — retry on fresh state"
                    )

        def mutate(t):
            if list(t.get(member, [])) != base:
                raise RewriteConflictError(
                    f"restore_table({path!r}, {version}): the member "
                    "changed since planning; re-check and retry"
                )
            return {**t, member: files}

        mutate.stats_add = {
            member: {
                f: stats[f]
                for f in files
                if f in stats and f not in set(base)
            }
        }
        if restat:
            mutate.restat = {member: restat}
        mutate.entry_guard = guard
        self._commit(store, root, mutate)
        return len(files)

    def clone_table(
        self, store, src_path: str, dst_path: str,
        version: int | None = None, replace: bool = False,
    ) -> int:
        """Delta's ``CREATE TABLE ... CLONE src [VERSION AS OF n]``
        (r17): duplicate one manifest member's snapshot — current, or
        a retained ``version`` — into a brand-new single-member table
        at ``dst_path``, as ONE bootstrap commit in the clone's fresh
        log. Semantically a DEEP clone (the clone references no
        source file, so source and clone vacuum/mutate/retain fully
        independently — the shallow-clone vacuum hazard is designed
        out), at near-shallow cost: every file duplicates through
        ``fs.link_or_copy`` — a hard link locally (O(0) bytes; safe
        because data files are immutable and deletes only unlink),
        server-side copy on an object store — so a 100 TB clone costs
        O(files) metadata operations, no byte moves through compute.

        What carries over, translated to the clone's root member:
        the file list under identical relpaths, every per-file stats
        block (data skipping works immediately), deletion-vector
        blobs with their references intact (a DV'd snapshot clones
        without materializing), the logical schema mapping
        (rename/drop/widen/nested), and CHECK constraints. What does
        NOT: commit history (the clone starts at version 0 — time
        travel into pre-clone history happens on the SOURCE, Delta's
        clone contract) and app-map consumer cursors (a feed cursor
        names the source's history; following a clone would replay
        or skip).

        ``replace=True`` (``CREATE OR REPLACE TABLE ... CLONE``, the
        Delta refresh idiom) atomically swaps an EXISTING clone
        target's content — one commit replaces the root member's
        file list and overwrites the schema-mapping / constraint /
        property keys with the source's (a stale mapping applied to
        the source's physical files would mis-serve), the old state
        staying time-travelable; staged names are uuid-unique, so a
        relpath already present at the target (a prior clone of the
        same lineage) is the same immutable bytes and is reused
        rather than re-copied.

        The reference has no snapshot or clone notion (``index.js``
        serves live Redis state only); this is lakehouse-tier parity.
        Returns the number of files cloned (data + DV blobs)."""
        resolved = self._resolve(store, src_path)
        if resolved is None:
            raise ValidationError(
                f"clone_table: source {src_path!r} is not "
                "manifest-managed"
            )
        root, member = resolved
        entry = self._load_entry(
            store, src_path, root,
            None if version is None else int(version),
        )
        files = list(entry["tables"].get(member, []))
        stats = entry.get("stats", {}).get(member, {})
        app = entry.get("app", {})
        dst_resolved = self._resolve(store, dst_path)
        if dst_resolved is not None and not replace:
            raise ValidationError(
                f"clone_table: {dst_path!r} already exists — clone "
                "targets a fresh path (or pass replace=True / "
                "CREATE OR REPLACE TABLE ... CLONE to swap it)"
            )
        if dst_resolved is not None and dst_resolved != (
            dst_path, ""
        ):
            raise ValidationError(
                f"clone_table: {dst_path!r} is a member of another "
                "table — clone replaces whole tables only"
            )
        if dst_resolved is None and store.fs.exists(dst_path) and (
            not store.fs.is_dir(dst_path)
            or store.fs.listdir(dst_path)
        ):
            raise ValidationError(
                f"clone_table: {dst_path!r} exists and is not an "
                "empty directory"
            )
        # DV blobs referenced by the snapshot's stats ride along —
        # same relpaths, so the copied blocks' references stay valid
        blobs = sorted(
            {
                s["dv"]["path"]
                for f in files
                if (s := stats.get(f)) and s.get("dv")
            }
        )
        src_base = self._member_root(root, member)
        dst_base = self._member_root(dst_path, "")
        store.fs.makedirs(f"{dst_path}/{LOG_DIR}")
        for rel in list(files) + blobs:
            dst_file = f"{dst_base}/{rel}"
            if replace and store.fs.exists(dst_file):
                # same uuid-named relpath from a prior clone of this
                # lineage: identical immutable bytes — reuse
                continue
            store.fs.makedirs(dst_file.rsplit("/", 1)[0])
            store.fs.link_or_copy(f"{src_base}/{rel}", dst_file)
        # the source's member-scoped app keys REPLACE the target's
        # (always set, {} when absent — on a replace-clone a stale
        # mapping or constraint applied to the source's physical
        # files would mis-serve), plus provenance properties
        app_meta = {
            self._schema_key(""): app.get(self._schema_key(member))
            or {},
            self._constraint_key(""): app.get(
                self._constraint_key(member)
            )
            or {},
            self._props_key(""): {
                **(app.get(self._props_key(member)) or {}),
                "clone.source": src_path,
                "clone.sourceVersion": str(entry.get("version")),
            },
        }

        def mutate(t):
            if not replace and t.get("", []):
                raise RewriteConflictError(
                    f"clone_table: {dst_path!r} gained files while "
                    "cloning — clone targets a fresh path"
                )
            return {**t, "": files}

        mutate.stats_add = {
            "": {f: stats[f] for f in files if f in stats}
        }
        if app_meta:
            mutate.app_meta = app_meta
        self._commit(store, dst_path, mutate)
        return len(files) + len(blobs)

    @staticmethod
    def _props_key(member: str) -> str:
        return f"__props__:{member}" if member else "__props__:"

    def table_properties(
        self, store, path: str, version: int | None = None
    ) -> dict:
        """User table properties (``{key: str value}``) — the Delta
        TBLPROPERTIES surface on the app map (r17). Empty when none
        or unmanaged. Versioned like everything else in the entry:
        time travel sees each version's own properties."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return {}
        root, member = resolved
        entry = self._load_entry(store, path, root, version)
        return dict(
            entry.get("app", {}).get(self._props_key(member)) or {}
        )

    def set_table_properties(
        self, store, path: str, props: dict
    ) -> dict:
        """Merge ``props`` (values coerced to str — the Delta
        convention) into the member's properties in one metadata-only
        commit, CAS'd on the map it planned against so two concurrent
        setters never silently drop each other's keys. Returns the
        resulting map."""
        resolved = self._resolve(store, path)
        if resolved is None:
            raise ValidationError(
                f"set_table_properties: {path!r} is not "
                "manifest-managed"
            )
        root, member = resolved
        key = self._props_key(member)
        entry = self._load_entry(store, path, root, None)
        cur = entry.get("app", {}).get(key)
        new = {**(cur or {}), **{k: str(v) for k, v in props.items()}}
        self.append_table_with_meta(
            store, path, None, {key: new}, expected_app={key: cur}
        )
        return new

    def unset_table_properties(
        self, store, path: str, keys
    ) -> dict:
        """Remove ``keys`` from the member's properties (absent keys
        are a no-op, the ``UNSET TBLPROPERTIES`` contract); same CAS
        posture as the setter. Returns the resulting map."""
        resolved = self._resolve(store, path)
        if resolved is None:
            raise ValidationError(
                f"unset_table_properties: {path!r} is not "
                "manifest-managed"
            )
        root, member = resolved
        key = self._props_key(member)
        entry = self._load_entry(store, path, root, None)
        cur = entry.get("app", {}).get(key)
        drop = set(keys)
        new = {
            k: v for k, v in (cur or {}).items() if k not in drop
        }
        if new == (cur or {}):
            return new
        self.append_table_with_meta(
            store, path, None, {key: new}, expected_app={key: cur}
        )
        return new

    def member_file_stats(
        self, store, path: str, version: int | None = None
    ) -> dict | None:
        """{relpath: per-file stats dict or None} for a member — the
        recorded ``{"rows": n, "cols": {...}}`` blocks, keyed by the
        committed file list (files without stats map to None). The
        driver-side input for size-aware maintenance (small-file
        compaction groups by recorded row counts without touching
        storage). None for an unmanaged path."""
        resolved = self._resolve(store, path)
        if resolved is None:
            return None
        root, member = resolved
        entry = self._load_entry(store, path, root, version)
        files = entry["tables"].get(member, [])
        stats = entry.get("stats", {}).get(member, {})
        return {f: stats.get(f) for f in files}

    def append_tables(self, store, root: str, dfs) -> None:
        """N member appends, ONE atomic log entry: either every
        member's new files are visible or none are. This is the
        transactional closure for the streaming-admission triple —
        a crash between stage writes leaves only invisible orphans,
        and replay re-runs the whole batch."""
        target = self._target_for_write(store, root)
        if target is None or target != (root, ""):
            raise ValueError(
                f"{root!r} is not a manifest root; append_tables needs "
                "end-to-end manifest management"
            )
        staged = {
            member: self._stage_data(
                store, root, member,
                lambda tmp, d=self._to_physical(store, root, member, df):
                    d.write.mode("overwrite").parquet(tmp),
            )
            for member, df in dfs.items()
        }

        def mutate(tables):
            out = dict(tables)
            for member, files in staged.items():
                out[member] = out.get(member, []) + files
            return out

        mutate.stats_add = {
            m: s
            for member, files in staged.items()
            for m, s in self._file_stats(store, root, member, files).items()
        }
        self._commit(store, root, mutate)

    def replace_tables(
        self, store, root: str, dfs, app_meta: dict | None = None,
        expected_app: dict | None = None,
    ) -> None:
        """N member REPLACEMENTS, ONE atomic log entry: after the
        commit every listed member's content is exactly its new
        snapshot, and no reader can observe a mix of generations —
        the rebuild path for derived multi-member indexes (IVF
        centroids + assignments). Blind replacement is correct here
        because the members are derived wholesale from an external
        source, not from their own prior state (unlike
        ``snapshot_rewrite``, which conflict-checks). Old files stay
        on disk for retained-snapshot readers until vacuum's horizon
        passes them. ``app_meta`` merges into the ``app`` map in the
        same entry — a rebuild driven by an external source records
        the source position it covered atomically with the swap."""
        target = self._target_for_write(store, root)
        if target is None or target != (root, ""):
            raise ValueError(
                f"{root!r} is not a manifest root; replace_tables needs "
                "end-to-end manifest management"
            )
        staged = {
            member: self._stage_data(
                store, root, member,
                lambda tmp, d=self._to_physical(store, root, member, df):
                    d.write.mode("overwrite").parquet(tmp),
            )
            for member, df in dfs.items()
        }
        mutate = lambda t: {**t, **staged}  # noqa: E731
        mutate.stats_add = {
            m: s
            for member, files in staged.items()
            for m, s in self._file_stats(store, root, member, files).items()
        }
        if app_meta:
            mutate.app_meta = dict(app_meta)
        if expected_app is not None:
            mutate.entry_guard = self._app_cas_guard(expected_app)
        self._commit(store, root, mutate)
        self.vacuum(store, root)


class CommitHost:
    """Minimal store-shaped adapter for driving a ``TableCommit``
    outside a ``TimeseriesStore`` — the streaming admission sink and
    other standalone manifest tables need only ``spark`` + ``fs``
    (``maintenance_lock``, which needs a store's config and writer id,
    is not usable through this)."""

    def __init__(self, spark, fs=None):
        from redis_lsm_timeseries_spark.fs import LOCAL_FS

        self.spark = spark
        self.fs = fs if fs is not None else LOCAL_FS


DEFAULT_COMMIT = ParquetLeaseCommit()
