"""The ``rlts_table`` Spark connector: a Structured Streaming SOURCE
over a manifest table's append feed —
``spark.readStream.format("rlts_table")`` on the engine's own log —
plus a BATCH reader (``spark.read.format("rlts_table")``) whose
``pushFilters`` translates equality/IN/range predicates into
manifest-stats file skipping and whose ``versionAsOf`` time-travels.

The engine has had streaming SINKS into manifest tables since r8
(``streaming/sink.py``) and a pull-based
incremental consumer (``changefeed.mirror_changes``); this closes the
triangle with a native source: a Spark 4 Python DataSource
(``pyspark.sql.datasource``) whose offsets are manifest VERSIONS, so
every micro-batch is exactly the files appended in ``(start, end]`` —
the Delta streaming-source idiom (``startingVersion``, appends-only,
maintenance-transparent) re-expressed on this engine's log.

Semantics:

- Offsets are ``{"version": N}``; a micro-batch reads the files added
  by commits ``N+1 .. M`` — immutable files, so replays of a batch are
  byte-identical and the source is exactly-once downstream of Spark's
  own checkpointing.
- Content-preserving rewrites (small-file compaction, Z-order —
  ``change: {"kind": "preserve"}``) are SKIPPED, so routine
  maintenance never disturbs a running stream.
- Row-level ``cdf`` commits (merge/delete) and unmarked removals RAISE
  ``NonAppendHistoryError`` and fail the query loudly — an append-only
  file stream cannot express a rewrite. Consumers that must survive
  mutations use the keyed ``mirror_changes`` path instead.
- Versions pruned by vacuum raise ``VersionNotFoundError`` on resume —
  retention must exceed the stream's downtime, exactly Delta's
  documented contract for its streaming source.
- Schema-mapped members (r13/r14) serve the LOGICAL view: physical
  columns rename through the mapping, dropped columns are excluded,
  widened columns up-cast — in Arrow, executor-side.

100 TB shape: offset planning is pure LOG metadata on the driver
(O(commits in range) JSON reads, no storage listing); each micro-batch
scans only the delta files, split ``files_per_partition`` per task;
rows travel as Arrow record batches (the Python-DataSource fast path),
never row-at-a-time Python.

Local-mode note: the reader reads parquet through pyarrow in Python
workers (the Python DataSource execution model) — Arrow-batched, zero
per-row Python. The JVM-parquet path remains ``read_changes`` for
batch incrementals; this source exists for pipelines that want the
``readStream`` API surface (watermarks, stateful ops, streaming
sinks) directly over an engine table.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

FORMAT_NAME = "rlts_table"

#: delta files bundled into one read task — small commits coalesce
#: instead of paying one task per tiny file
FILES_PER_PARTITION = 4


class _Meta:
    """Driver-side metadata access: the commit log is pure-JSON fs
    reads (``ManifestCommit``'s metadata chain never touches
    ``store.spark``), so a spark-less host suffices inside the Python
    DataSource planner."""

    def __init__(self, path: str):
        from redis_lsm_timeseries_spark.commit import (
            CommitHost,
            ManifestCommit,
        )
        from redis_lsm_timeseries_spark.errors import (
            VersionNotFoundError,
        )

        self.commit = ManifestCommit()
        self.host = CommitHost(None)
        self.path = path
        resolved = self.commit._resolve(self.host, path)
        if resolved is None:
            raise VersionNotFoundError(
                f"{path!r} is not a manifest-managed table; the "
                "rlts_table stream source needs the version log"
            )
        self.root, self.member = resolved
        self.base = self.commit._member_root(self.root, self.member)

    def current_version(self) -> int:
        v, _ = self.commit._current(self.host, self.root)
        return v

    def versions(self):
        return self.commit.table_versions(self.host, self.path)

    def schema_meta(self) -> dict:
        return self.commit.schema_meta(self.host, self.path)

    def version_before_ts(self, ts_ms: int) -> int:
        """The newest version committed strictly BEFORE ``ts_ms``
        (-1 when none — the feed then replays retained history), so a
        feed starting after it serves exactly the changes committed
        at or after the timestamp — the Delta startingTimestamp
        contract. A timestamp predating RETAINED history raises the
        typed ``RetentionError`` when version 0 is vacuumed (r15,
        ADVICE): starting at the earliest retained version would
        silently OMIT that version's own changes, which were committed
        after the requested timestamp — an under-read, not an
        approximation. While version 0 is retained the request is
        exactly servable as a genesis replay."""
        from redis_lsm_timeseries_spark.errors import (
            RetentionError,
            VersionNotFoundError,
        )

        try:
            return self.commit.resolve_version_asof(
                self.host, self.path, int(ts_ms) - 1
            )
        except VersionNotFoundError:
            vs = self.versions()
            if not vs or vs[0] == 0:
                # genesis replay is exact: the pre-genesis state is
                # empty, so every change since the timestamp serves
                return -1
            raise RetentionError(
                f"startingTimestamp {int(ts_ms)} predates retained "
                f"history of {self.path!r} (earliest retained version "
                f"is {vs[0]}; version 0 was vacuumed) — serving from "
                "the earliest retained version would silently omit "
                "its changes. Full-resync from the current snapshot, "
                "or raise vacuum retention"
            ) from None

    def _genesis_walk(self, to: int):
        """The ``_change_walk`` fold from BEFORE the first log entry
        (since = -1): only valid while version 0 is retained — the
        empty pre-genesis state needs no reconstruction, so the walk
        can include version 0's own files (a feed "from the beginning
        of history", which ``_change_walk`` cannot express because its
        anchor must be a retained version)."""
        cur: list[str] = []
        out = []
        for v in range(0, to + 1):
            entry = self.commit._read_entry_raw(
                self.host, self.root, v, self.path
            )
            if "tables" in entry:
                new = entry["tables"].get(self.member, [])
                olds, news = set(cur), set(new)
                added = [f for f in new if f not in olds]
                removed = [f for f in cur if f not in news]
                cur = list(new)
            else:
                delta = entry.get("delta", {})
                add_map = delta.get("add", {}).get(self.member, {})
                added = list(add_map)
                removed = list(
                    delta.get("remove", {}).get(self.member, [])
                )
                gone = set(removed)
                cur = [f for f in cur if f not in gone] + added
            ch = entry.get("change") or {}
            restated = list(
                entry.get("delta", {})
                .get("restat", {})
                .get(self.member, {})
            )
            if restated:
                # deletion-vector attach: row content changed with the
                # file list standing still — the append stream must
                # fail loudly, marked or not
                ch = {**ch, "restat": restated}
            out.append((v, ch, added, removed, None))
        return out

    def added_files(self, since: int, to: int):
        """Relpaths appended in ``(since, to]`` under the feed's
        append-only rules (preserve skipped, cdf/removals raise).
        ``since = -1`` walks from genesis (version 0 included)."""
        return [
            f for _v, files in self.added_by_version(since, to)
            for f in files
        ]

    def added_by_version(self, since: int, to: int):
        """``added_files`` keeping the per-version grouping (r16 —
        the file-granular rate limits slice inside one version):
        ``[(version, [relpath, ...]), ...]`` for ``(since, to]``,
        versions that added nothing omitted."""
        from redis_lsm_timeseries_spark.errors import (
            NonAppendHistoryError,
        )

        walk = (
            self._genesis_walk(to)
            if since < 0
            else self.commit._change_walk(
                self.host, self.path, self.root, self.member, since, to
            )
        )
        out: list = []
        for v, change, adds, removes, _stats in walk:
            kind = change.get("kind")
            if kind == "cdf" and change.get(
                "cdf_member"
            ) != self.commit.cdf_member_of(self.member):
                kind = None  # sibling member's row-level commit
            if kind == "preserve":
                continue
            if kind == "cdf" or removes or change.get("restat"):
                raise NonAppendHistoryError(
                    f"rlts_table stream over {self.path!r}: version "
                    f"{v} is not append-only (merge/delete, a "
                    "deletion vector, or an unmarked rewrite); an "
                    "append-file stream cannot express it — consume "
                    "row-level changes with "
                    "changefeed.mirror_changes(keys=...) instead"
                )
            if adds:
                out.append((v, list(adds)))
        return out

    def change_batches(self, since: int, to: int):
        """Row-level change plan for ``(since, to]``: a list of
        ``(version, member, files, kind)`` with kind ``"insert"``
        (plain append — the added files read as insert rows) or
        ``"cdf"`` (merge/delete/DV — the entry's typed change files,
        which are the complete row-level truth for that commit; its
        replacement data files are NOT emitted). ``preserve``
        rewrites contribute nothing; an unmarked removal or DV
        attach raises — the feed cannot express it. The streaming
        face of ``read_row_changes``."""
        from redis_lsm_timeseries_spark.errors import (
            NonAppendHistoryError,
        )

        walk = (
            self._genesis_walk(to)
            if since < 0
            else self.commit._change_walk(
                self.host, self.path, self.root, self.member, since, to
            )
        )
        out = []
        for v, change, adds, removes, _stats in walk:
            kind = change.get("kind")
            if kind == "cdf" and change.get(
                "cdf_member"
            ) != self.commit.cdf_member_of(self.member):
                kind = None  # sibling member's row-level commit
            if kind == "preserve":
                continue
            if kind == "cdf":
                files = change.get("files", [])
                if files:
                    out.append((v, change["cdf_member"], files, "cdf"))
                continue
            if removes or change.get("restat"):
                raise NonAppendHistoryError(
                    f"rlts_table change-feed stream over "
                    f"{self.path!r}: version {v} rewrote content "
                    "without row-level change metadata (an unmarked "
                    "removal or deletion vector); the feed cannot "
                    "express it — recompute from the newer snapshot"
                )
            if adds:
                out.append((v, self.member, adds, "insert"))
        return out


class _FilesPartition(InputPartition):
    """One read task: absolute file paths + everything needed to
    assemble the logical view executor-side (schema mapping, hive
    partition column names/types, target Arrow-compatible schema as
    DDL — plain picklable values only). ``dvs`` maps a relpath to its
    deletion-vector blob relpath (r14): the task masks those row
    positions out before yielding batches."""

    def __init__(
        self, base, relpaths, smeta, schema_json, dvs=None, consts=None
    ):
        self.base = base
        self.relpaths = relpaths
        self.smeta = smeta
        self.schema_json = schema_json
        self.dvs = dvs or {}
        # constant column fills for target fields ABSENT from a file
        # (r14 change-feed stream: _commit_version always,
        # _change_type='insert' for plain append files — cdf files
        # carry their own typed column, which wins)
        self.consts = consts or {}


def _simple_ddl_type(ddl: str):
    """Session-free DDL -> DataType for the primitive types
    ``df.dtypes`` emits (``_parse_datatype_string`` needs an active
    SparkContext, which the DataSource planner process lacks); None
    for anything exotic — callers omit the column and document the
    explicit-schema remedy."""
    import re

    from pyspark.sql import types as T

    simple = {
        "tinyint": T.ByteType, "smallint": T.ShortType,
        "int": T.IntegerType, "integer": T.IntegerType,
        "bigint": T.LongType, "long": T.LongType,
        "float": T.FloatType, "double": T.DoubleType,
        "string": T.StringType, "boolean": T.BooleanType,
        "date": T.DateType, "timestamp": T.TimestampType,
        "timestamp_ntz": T.TimestampNTZType, "binary": T.BinaryType,
    }
    ddl = ddl.strip().lower()
    if ddl in simple:
        return simple[ddl]()
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", ddl)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    return None


def _ts_ms(value) -> int:
    """Epoch millis from a ``timestampAsOf`` option value: an int (or
    int string) of millis, or an ISO-8601 datetime string — naive
    datetimes are UTC, the engine-wide convention (ADVICE r12)."""
    import datetime

    s = str(value)
    try:
        return int(s)
    except ValueError:
        pass
    dt = datetime.datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


def _parse_bytes(value) -> int:
    """``maxBytesPerTrigger`` value: a plain int of bytes or a
    ``k``/``kb``/``m``/``mb``/``g``/``gb``-suffixed string
    (``"10m"``, ``"10mb"`` — Spark's own byte-string convention
    accepts both). A malformed value refuses typed, naming the
    option."""
    from redis_lsm_timeseries_spark.errors import ValidationError

    s = str(value).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    num, suffix = s, None
    if s.endswith("b") and len(s) > 1 and s[-2] in mult:
        num, suffix = s[:-2], s[-2]
    elif s and s[-1] in mult:
        num, suffix = s[:-1], s[-1]
    try:
        return int(float(num) * mult[suffix]) if suffix else int(num)
    except ValueError:
        raise ValidationError(
            f"rlts_table: maxBytesPerTrigger value {value!r} is not "
            "a byte count (use an int or a k/kb/m/mb/g/gb-suffixed "
            "string)"
        ) from None


def _hive_values(relpath: str) -> dict:
    """``tag=x/part_start=0/part-....parquet`` -> {"tag": "x",
    "part_start": "0"} (values stay strings; the schema cast types
    them). Values UNESCAPE hive's path encoding (``tag=c%3Ad`` on
    disk is the value ``c:d``) — Spark's native partition discovery
    does the same, so the connector must agree with ``read_table``;
    the hive NULL sentinel reads back as None."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    out: dict = {}
    for seg in relpath.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            raw = ManifestCommit._unescape_partition(v)
            out[k] = None if raw == ManifestCommit.HIVE_NULL else raw
    return out


def _arrow_repetition_rewrap(chunk, phys_path: str, rebuild):
    """Rebuild the struct(s) under a LIST or MAP chunk (r16): the
    element/value child rebuilds recursively, then rewraps reusing
    THIS level's validity + offset buffers verbatim — per-element
    identity, null slots, and slices all carry over untouched, and
    every child the spec doesn't reach stays zero-copy. ``.values``
    ignores the chunk's offset (raw child), which is exactly what the
    reused absolute offsets index into."""
    import pyarrow as pa

    t = chunk.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        new_vals = rebuild(chunk.values, f"{phys_path}.element")
        lt = (
            pa.large_list(new_vals.type)
            if pa.types.is_large_list(t)
            else pa.list_(new_vals.type)
        )
        return pa.Array.from_buffers(
            lt, len(chunk), chunk.buffers()[:2],
            null_count=chunk.null_count, offset=chunk.offset,
            children=[new_vals],
        )
    ent = chunk.values  # map entries: struct<key, value>, offset 0
    keys, items = ent.field(0), ent.field(1)
    new_items = rebuild(items, f"{phys_path}.value")
    kf = ent.type.field(0)
    vf = pa.field(
        ent.type.field(1).name, new_items.type,
        ent.type.field(1).nullable,
    )
    new_ent = pa.Array.from_buffers(
        pa.struct([kf, vf]), len(ent), ent.buffers()[:1],
        offset=ent.offset, children=[keys, new_items],
    )
    return pa.Array.from_buffers(
        pa.map_(kf, vf), len(chunk), chunk.buffers()[:2],
        null_count=chunk.null_count, offset=chunk.offset,
        children=[new_ent],
    )


def _nested_arrow(arr, phys_path: str, nested: dict):
    """Arrow-side nested-field logical assembly (r15; repetition
    contexts r16): rebuild a struct array with inverse-renamed field
    names and dropped fields excluded, recursing into struct children
    with deeper specs and stepping through list elements / map values
    — the connector-read mirror of the engine's
    ``_nested_logical_any``. Struct-level validity (NULL rows)
    carries over via the mask."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from redis_lsm_timeseries_spark.commit import ManifestCommit

    spec = nested.get(phys_path) or {}
    inv = {p: l for l, p in spec.get("map", {}).items()}
    dropped = set(spec.get("drop", []))
    chunks = (
        arr.chunks if isinstance(arr, pa.ChunkedArray) else [arr]
    )
    out = []
    for chunk in chunks:
        st = chunk.type
        if not pa.types.is_struct(st):
            out.append(
                _arrow_repetition_rewrap(
                    chunk, phys_path,
                    lambda c, p: _nested_arrow(c, p, nested),
                )
            )
            continue
        children, names = [], []
        for i in range(st.num_fields):
            f = st.field(i)
            if f.name in dropped:
                continue
            child = chunk.field(i)
            child_path = f"{phys_path}.{f.name}"
            if _arrow_nested_type(f.type) and ManifestCommit._nested_under(
                nested, child_path
            ):
                child = _nested_arrow(child, child_path, nested)
            children.append(child)
            names.append(inv.get(f.name, f.name))
        # reminted leaves (r16) absent from this file's struct (the
        # file predates the re-add) read as NULL — the Arrow analog
        # of the engine's forced scan schema
        have = {st.field(i).name for i in range(st.num_fields)}
        for pl in sorted(spec.get("phys_types", {})):
            if pl in have or pl in dropped:
                continue
            dt = ManifestCommit._ddl_type_simple(
                spec["phys_types"][pl]
            )
            if dt is None:
                continue
            from pyspark.sql.pandas.types import to_arrow_type

            children.append(pa.nulls(len(chunk), to_arrow_type(dt)))
            names.append(inv.get(pl, pl))
        out.append(
            pa.StructArray.from_arrays(
                children, names, mask=pc.is_null(chunk)
            )
        )
    return pa.chunked_array(out) if len(out) != 1 else out[0]


def _arrow_nested_type(t) -> bool:
    """Arrow analog of the engine's ``_nested_dispatchable``."""
    import pyarrow as pa

    return (
        pa.types.is_struct(t)
        or pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_map(t)
    )


def _arrow_conform(arr, t):
    """Field-NAME-based conform of ``arr`` to the target type ``t``
    (r16): Arrow's struct cast is field-ORDER-sensitive and cannot
    add members, but across schema-evolution generations struct
    shapes legitimately differ (a reminted leaf sits at a different
    position, a pre-re-add file lacks it entirely). Structs conform
    child-by-child by name (missing children read NULL); lists and
    maps rewrap their conformed element/value over this level's
    verbatim buffers; everything else is a plain cast."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if arr.type == t:
        return arr
    if isinstance(arr, pa.ChunkedArray):
        return pa.chunked_array(
            [_arrow_conform(c, t) for c in arr.chunks], type=t
        )
    at = arr.type
    out = None
    if pa.types.is_struct(t) and pa.types.is_struct(at):
        have = {at.field(i).name: i for i in range(at.num_fields)}
        children, names = [], []
        for i in range(t.num_fields):
            f = t.field(i)
            if f.name in have:
                children.append(
                    _arrow_conform(arr.field(have[f.name]), f.type)
                )
            else:
                children.append(pa.nulls(len(arr), f.type))
            names.append(f.name)
        out = pa.StructArray.from_arrays(
            children, names, mask=pc.is_null(arr)
        )
    elif (pa.types.is_list(t) or pa.types.is_large_list(t)) and (
        pa.types.is_list(at) or pa.types.is_large_list(at)
    ) and pa.types.is_list(t) == pa.types.is_list(at):
        out = _arrow_repetition_rewrap(
            arr, "", lambda c, p: _arrow_conform(c, t.value_type)
        )
    elif pa.types.is_map(t) and pa.types.is_map(at):
        out = _arrow_repetition_rewrap(
            arr, "", lambda c, p: _arrow_conform(c, t.item_type)
        )
    if out is None:
        return arr.cast(t)
    # a leftover mismatch is now order-aligned metadata (inner entry/
    # element field names, nullability flags) — a plain cast settles it
    return out if out.type == t else out.cast(t)


def _read_files_partition(partition: _FilesPartition):
    """Executor-side read shared by the stream and batch readers:
    each file scans through pyarrow, assembles the LOGICAL view
    (inverse-rename, dropped excluded), restores hive partition
    columns from the path, and casts to the requested schema —
    yielding Arrow record batches (the Python-DataSource fast path,
    no per-row Python)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    target = to_arrow_schema(
        StructType.fromJson(json.loads(partition.schema_json))
    )
    mapping = partition.smeta.get("map", {})
    dropped = set(partition.smeta.get("drop", []))
    nested = partition.smeta.get("nested", {})
    inv = {p: l for l, p in mapping.items()}
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    for rel in partition.relpaths:
        tbl = pq.read_table(f"{partition.base}/{rel}")
        if len(tbl) == 0:
            # zero-row files (empty partition splits) contribute
            # nothing — and their columns can carry 0 Arrow chunks,
            # which the struct rebuild below cannot reassemble
            continue
        blob = partition.dvs.get(rel)
        if blob is not None:
            # deletion vector (r14): mask the recorded positions out.
            # The blob is filtered to THIS file's rows at the parquet
            # layer (predicate pushdown on the `file` column), so the
            # task reads O(its deletes), not the whole blob.
            import numpy as np

            dv = pq.read_table(
                f"{partition.base}/{blob}",
                filters=[("file", "==", rel)],
                columns=["pos"],
            )
            mask = np.ones(len(tbl), dtype=bool)
            pos = dv.column("pos").to_numpy(zero_copy_only=False)
            mask[pos.astype("int64")] = False
            tbl = tbl.filter(pa.array(mask))
        # physical -> logical names; dropped physical excluded;
        # structs with nested specs rebuild (r15)
        cols, names = [], []
        for name in tbl.schema.names:
            if name in dropped:
                continue
            colarr = tbl.column(name)
            if (
                nested
                and _arrow_nested_type(colarr.type)
                and ManifestCommit._nested_under(nested, name)
            ):
                colarr = _nested_arrow(colarr, name, nested)
            cols.append(colarr)
            names.append(inv.get(name, name))
        tbl = pa.table(dict(zip(names, cols)))
        # hive partition path segments become constant columns
        hive = _hive_values(rel)
        n_rows = len(tbl)
        out_cols = []
        for field in target:
            if field.name in tbl.schema.names:
                out_cols.append(
                    _arrow_conform(tbl.column(field.name), field.type)
                )
            elif field.name in hive:
                out_cols.append(
                    pa.array([hive[field.name]] * n_rows).cast(field.type)
                )
            elif field.name in partition.consts:
                out_cols.append(
                    pa.array(
                        [partition.consts[field.name]] * n_rows
                    ).cast(field.type)
                )
            else:
                out_cols.append(pa.nulls(n_rows, field.type))
        yield from pa.table(
            dict(zip([f.name for f in target], out_cols))
        ).to_batches()


class ManifestStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        from redis_lsm_timeseries_spark.errors import ValidationError

        path = options.get("path") or options.get("tablepath")
        if not path:
            raise ValidationError(
                "rlts_table: option 'path' (the manifest member path) "
                "is required"
            )
        self.path = path
        self.schema = schema
        self.files_per_partition = max(
            1, int(options.get("filesperpartition", FILES_PER_PARTITION))
        )
        self.starting = options.get("startingversion", "latest")
        # maxVersionsPerTrigger: bound one micro-batch's commit span —
        # a stream resumed against a deep backlog (or started
        # 'earliest' on a long history) drains in bounded batches
        # instead of planning one giant one. Best-effort per planner
        # lifetime: the ratchet base comes from initialOffset/
        # partitions calls, so the first batch after a RESTART with no
        # replay is uncapped, then capping resumes.
        #
        # maxFilesPerTrigger / maxBytesPerTrigger (r16, VERDICT r15
        # #8): FILE-granular bounds — one bulk-load version holding
        # thousands of files drains across several micro-batches
        # instead of flooding one. Offsets gain an optional ``index``
        # (files consumed within ``version``'s added-file list), so a
        # checkpointed resume lands mid-version exactly-once; a plain
        # ``{"version": v}`` offset (older checkpoints, uncapped
        # streams) still means "v fully consumed". Soft caps with the
        # Delta progress guarantee: every non-empty batch plans at
        # least one file.
        mv = options.get("maxversionspertrigger")
        self.max_versions = None if mv is None else max(1, int(mv))
        mf = options.get("maxfilespertrigger")
        self.max_files = None if mf is None else max(1, int(mf))
        mb = options.get("maxbytespertrigger")
        self.max_bytes = None if mb is None else max(
            1, _parse_bytes(mb)
        )
        self._ratchet: tuple | None = None  # (version, index|None)
        self._meta = _Meta(path)
        st = options.get("startingtimestamp")
        if st is not None:
            if options.get("startingversion") is not None:
                raise ValidationError(
                    "rlts_table: startingVersion and "
                    "startingTimestamp are mutually exclusive"
                )
            # changes committed at or after the timestamp
            self.starting = self._meta.version_before_ts(_ts_ms(st))

    # -- offsets -------------------------------------------------------
    def initialOffset(self) -> dict:
        """``startingVersion`` option: ``"latest"`` (default — only
        commits AFTER stream start), ``"earliest"`` (every retained
        commit's delta replays as the first batches; when the FULL log
        is retained — version 0 still present — that includes the very
        first commit's files, i.e. the whole table; once vacuum pruned
        history, rows folded into the oldest retained snapshot are not
        re-derivable as deltas — batch-read that snapshot and start
        the stream from its version for a full backfill, the Delta
        startingVersion contract), or an integer N (feed begins AFTER
        version N, matching ``read_changes(since_version=N)``; N must
        be retained)."""
        if self.starting == "latest":
            out = self._meta.current_version()
        elif self.starting == "earliest":
            v0 = self._meta.versions()[0]
            out = -1 if v0 == 0 else v0
        else:
            out = int(self.starting)
        self._ratchet = (out, None)
        return {"version": out}

    #: partitions() can slice INSIDE one version's file list (since
    #: r17 the change-feed subclass does too — Delta-style file-
    #: granular CDF batches; its index domain is the change-batch
    #: file order instead of the added-file order)
    _splittable = True

    @staticmethod
    def _off(d: dict) -> tuple:
        """Offset dict -> (version, index|None); index None = the
        version is fully consumed (the pre-r16 offset shape)."""
        idx = d.get("index")
        return int(d["version"]), (None if idx is None else int(idx))

    @staticmethod
    def _okey(off: tuple):
        """Total order over offsets: a partial index sorts below the
        completed version."""
        v, i = off
        return (v, float("inf") if i is None else i)

    def _cap_plan(self, since: int, to: int):
        """Per-version ABSOLUTE-path plan for the byte/file caps
        walk: ``[(version, [path ...])]``, file order identical to
        what ``partitions`` slices (index alignment)."""
        return [
            (v, [f"{self._meta.base}/{rel}" for rel in files])
            for v, files in self._meta.added_by_version(since, to)
        ]

    def _capped_offset(self, base: tuple, cur: int) -> tuple:
        """Advance from offset ``base`` toward version ``cur`` under
        the file/byte caps (soft: at least one file per batch). Sizes
        come from one ``getsize`` per planned file, driver-side —
        O(batch), not O(backlog), because the walk stops at the cap."""
        import os as _os

        base_v, base_i = base
        vcap = cur
        if self.max_versions is not None:
            vcap = min(cur, base_v + self.max_versions)
        if self.max_files is None and self.max_bytes is None:
            return (max(vcap, base_v), None)
        since = base_v - 1 if base_i is not None else base_v
        taken = 0
        bytes_taken = 0
        out = base
        for v, paths in self._cap_plan(since, vcap):
            i0 = base_i if (v == base_v and base_i is not None) else 0
            if not self._splittable:
                # version-granular: take whole versions until a cap
                # trips (≥1 version per batch)
                if taken and (
                    (self.max_files is not None
                     and taken + len(paths) > self.max_files)
                    or (self.max_bytes is not None
                        and bytes_taken >= self.max_bytes)
                ):
                    return out
                taken += len(paths)
                if self.max_bytes is not None:
                    # only stat files when a byte cap actually reads
                    # the counter — a files-only cap stays I/O-free
                    for p in paths:
                        try:
                            bytes_taken += _os.path.getsize(p)
                        except OSError:
                            pass
                out = (v, None)
                continue
            for idx in range(i0, len(paths)):
                if taken and (
                    (self.max_files is not None
                     and taken >= self.max_files)
                    or (self.max_bytes is not None
                        and bytes_taken >= self.max_bytes)
                ):
                    return (v, idx)
                taken += 1
                if self.max_bytes is not None:
                    try:
                        bytes_taken += _os.path.getsize(paths[idx])
                    except OSError:
                        pass
            out = (v, None)
        # caps never tripped inside the span: everything through vcap
        return (vcap, None) if self._okey((vcap, None)) > self._okey(
            out
        ) else out

    def latestOffset(self) -> dict:
        cur = self._meta.current_version()
        base = self._ratchet if self._ratchet is not None else (cur, None)
        nxt = self._capped_offset(base, cur)
        # never retreat below what a prior trigger already planned
        if self._okey(nxt) < self._okey(base):
            nxt = base
        self._ratchet = nxt
        v, i = nxt
        return {"version": v} if i is None else {"version": v, "index": i}

    def partitions(self, start: dict, end: dict):
        s, e = self._off(start), self._off(end)
        if self._ratchet is None or self._okey(e) > self._okey(
            self._ratchet
        ):
            self._ratchet = e  # restart replay: resume capping from it
        if self._okey(e) <= self._okey(s):
            return []
        s_v, s_i = s
        e_v, e_i = e
        since = s_v - 1 if s_i is not None else s_v
        added: list[str] = []
        for v, files in self._meta.added_by_version(since, e_v):
            lo = s_i if (v == s_v and s_i is not None) else 0
            hi = e_i if (v == e_v and e_i is not None) else len(files)
            added.extend(files[lo:hi])
        if not added:
            return []
        smeta = self._meta.schema_meta()
        schema_json = self.schema.json()
        n = self.files_per_partition
        return [
            _FilesPartition(
                self._meta.base, added[i : i + n], smeta, schema_json
            )
            for i in range(0, len(added), n)
        ]

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the cursor; nothing engine-side

    # -- executor-side read -------------------------------------------
    def read(self, partition: _FilesPartition):
        yield from _read_files_partition(partition)


#: change-feed stream column names (the Delta CDF convention; values
#: match ManifestCommit.CDF_TYPE_COL / CDF_VERSION_COL)
CDF_TYPE = "_change_type"
CDF_VERSION = "_commit_version"


class ChangeFeedStreamReader(ManifestStreamReader):
    """Streaming ROW-LEVEL change feed
    (``.option("readChangeFeed", "true")``) — the Delta CDF streaming
    idiom on this engine's log: where the plain stream fails loudly on
    any non-append commit, this one serves merges, deletes and
    deletion-vector commits as typed change rows (``_change_type`` in
    insert | upsert | delete, plus ``_commit_version``), so a
    continuously-running consumer can maintain a keyed mirror without
    falling back to the pull-based ``mirror_changes``. Plain appends
    read as ``insert`` rows; ``preserve`` maintenance contributes
    nothing; an UNMARKED rewrite (no CDF metadata) still fails the
    query loudly. Offsets, ``startingVersion``,
    ``maxVersionsPerTrigger`` and retention semantics are inherited
    from the append reader — CDF files live exactly as long as their
    log entry, so a resume past vacuum's horizon raises the typed
    retention error.

    100 TB shape: planning stays O(commits in range) of driver-side
    log JSON; each micro-batch ships only the delta's insert files
    plus the (tiny, self-expiring) change files; rows travel as Arrow
    batches.

    ``maxFilesPerTrigger``/``maxBytesPerTrigger`` split at FILE
    granularity (r17, the Delta behavior — through r16 this reader
    capped at whole versions): one mega-merge's change files drain
    across several bounded micro-batches, with the same optional
    ``index``-bearing offsets as the append reader, so a checkpointed
    resume lands mid-version exactly-once. Change rows of a single
    version may therefore straddle micro-batches WHEN A CAP IS SET —
    safe for the keyed mirror (rows apply idempotently per key and
    file order within a version follows the log, so batch order IS
    log order), but a consumer doing its own per-VERSION bookkeeping
    should leave the caps unset (uncapped batches still end on
    version boundaries; ``maxVersionsPerTrigger`` also never splits
    one)."""

    def _version_file_plan(self, since: int, to: int):
        """``[(version, base, consts, [relpath, ...])]`` — one entry
        per change batch in log order. The per-version concatenation
        of these file lists is THE index domain for ``(version,
        index)`` offsets: ``_cap_plan`` and ``partitions`` both
        derive from it, keeping cap walks and slice replays aligned
        across planner restarts (the lists come from log JSON, so
        the order is stable)."""
        commit = self._meta.commit
        out = []
        for v, member, files, kind in self._meta.change_batches(
            since, to
        ):
            base = commit._member_root(self._meta.root, member)
            consts = {CDF_VERSION: int(v)}
            if kind == "insert":
                consts[CDF_TYPE] = "insert"
            out.append((v, base, consts, list(files)))
        return out

    def _cap_plan(self, since: int, to: int):
        by_v: dict = {}
        for v, base, _c, files in self._version_file_plan(since, to):
            by_v.setdefault(v, []).extend(
                f"{base}/{rel}" for rel in files
            )
        return sorted(by_v.items())

    def partitions(self, start: dict, end: dict):
        s, e = self._off(start), self._off(end)
        if self._ratchet is None or self._okey(e) > self._okey(
            self._ratchet
        ):
            self._ratchet = e  # restart replay: resume capping from it
        if self._okey(e) <= self._okey(s):
            return []
        s_v, s_i = s
        e_v, e_i = e
        since = s_v - 1 if s_i is not None else s_v
        plan = self._version_file_plan(since, e_v)
        if not plan:
            return []
        smeta = self._meta.schema_meta()
        schema_json = self.schema.json()
        n = self.files_per_partition
        out = []
        pos: dict[int, int] = {}  # files of v already walked (index base)
        for v, base, consts, files in plan:
            off0 = pos.get(v, 0)
            pos[v] = off0 + len(files)
            lo_g = s_i if (v == s_v and s_i is not None) else 0
            hi_g = (
                e_i if (v == e_v and e_i is not None) else pos[v]
            )
            lo = max(0, lo_g - off0)
            hi = max(0, min(len(files), hi_g - off0))
            sl = files[lo:hi]
            for i in range(0, len(sl), n):
                out.append(
                    _FilesPartition(
                        base, sl[i : i + n], smeta, schema_json,
                        consts=consts,
                    )
                )
        return out


class ManifestBatchReader(DataSourceReader):
    """Batch reader with FILTER PUSHDOWN into the manifest's per-file
    stats (Spark 4.1 ``pushFilters``): equality / IN / range filters
    on top-level columns translate to a ``prune_files`` envelope, so
    planning ships only the files whose stats may match — the same
    data skipping ``read_table_pruned`` gives engine callers, now
    behind the generic ``spark.read.format("rlts_table")`` surface.
    Every filter is RETURNED as residual (file skipping is
    superset-safe, Spark's row filter stays mandatory — the exact
    contract ``prune_files`` documents). ``versionAsOf`` time-travels:
    both the file list and the logical column mapping resolve as of
    that version."""

    def __init__(self, schema, options):
        from redis_lsm_timeseries_spark.errors import ValidationError

        path = options.get("path") or options.get("tablepath")
        if not path:
            raise ValidationError(
                "rlts_table: option 'path' (the manifest member path) "
                "is required"
            )
        self.schema = schema
        self.files_per_partition = max(
            1, int(options.get("filesperpartition", FILES_PER_PARTITION))
        )
        self._meta = _Meta(path)
        v = options.get("versionasof")
        ts = options.get("timestampasof")
        if v is not None and ts is not None:
            raise ValidationError(
                "rlts_table: versionAsOf and timestampAsOf are "
                "mutually exclusive"
            )
        if ts is not None:
            # epoch millis, or an ISO datetime (naive = UTC — the
            # engine-wide convention); resolves to the newest retained
            # version committed at or before it
            self.version = self._meta.commit.resolve_version_asof(
                self._meta.host, path, _ts_ms(ts)
            )
        else:
            self.version = None if v is None else int(v)
        # batch change-feed read (readChangeFeed + startingVersion
        # [+ endingVersion]): typed rows over a version range — the
        # Delta table_changes batch idiom
        self.cdf = str(
            options.get("readchangefeed", "false")
        ).lower() in ("true", "1")
        if self.cdf:
            if self.version is not None:
                raise ValidationError(
                    "rlts_table: readChangeFeed composes with "
                    "startingVersion/endingVersion, not "
                    "versionAsOf/timestampAsOf"
                )
            sv = options.get("startingversion")
            st = options.get("startingtimestamp")
            if sv is not None and st is not None:
                raise ValidationError(
                    "rlts_table: startingVersion and "
                    "startingTimestamp are mutually exclusive"
                )
            if st is not None:
                self.cdf_since = self._meta.version_before_ts(
                    _ts_ms(st)
                )
            elif sv is not None:
                self.cdf_since = -1 if sv == "earliest" else int(sv)
            else:
                raise ValidationError(
                    "rlts_table: readChangeFeed batch reads need "
                    "startingVersion or startingTimestamp (the feed "
                    "begins AFTER it; 'earliest' replays retained "
                    "history)"
                )
            ev = options.get("endingversion")
            et = options.get("endingtimestamp")
            if ev is not None and et is not None:
                raise ValidationError(
                    "rlts_table: endingVersion and endingTimestamp "
                    "are mutually exclusive"
                )
            if et is not None:
                # inclusive: every change committed at or before it
                self.cdf_to = self._meta.commit.resolve_version_asof(
                    self._meta.host, path, _ts_ms(et)
                )
            else:
                self.cdf_to = None if ev is None else int(ev)
        self.predicates: dict = {}

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        preds: dict = {}

        def narrow_range(col, lo=None, hi=None):
            cur = preds.get(col)
            if isinstance(cur, (set, frozenset)):
                return  # a membership set is already at least as tight
            clo, chi = cur if isinstance(cur, tuple) else (None, None)
            if lo is not None:
                try:
                    clo = lo if clo is None else max(clo, lo)
                except TypeError:
                    return  # incomparable mixed types: skip, stay safe
            if hi is not None:
                try:
                    chi = hi if chi is None else min(chi, hi)
                except TypeError:
                    return
            preds[col] = (clo, chi)

        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue  # nested fields: no stats recorded
            col = attr[0]
            # any single conjunct's envelope is a SUPERSET of the
            # conjunction, so folding what we understand and ignoring
            # the rest can only keep extra files, never drop one
            if isinstance(f, EqualTo):
                preds[col] = {f.value}
            elif isinstance(f, In):
                if not isinstance(preds.get(col), (set, frozenset)):
                    preds[col] = set(f.value)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                # inclusive envelope for an exclusive bound: superset
                narrow_range(col, lo=f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                narrow_range(col, hi=f.value)
        self.predicates = preds
        # every filter stays residual: skipping is file-granular
        return filters

    def partitions(self):
        meta = self._meta
        if self.cdf:
            # typed change rows over (startingVersion, endingVersion]
            # — the Delta table_changes batch idiom; change files are
            # tiny and self-expiring, so no stats pruning (filters
            # stay residual either way)
            to = (
                self.cdf_to
                if self.cdf_to is not None
                else meta.current_version()
            )
            batches = meta.change_batches(self.cdf_since, to)
            smeta = meta.schema_meta()
            schema_json = self.schema.json()
            n = self.files_per_partition
            out = []
            for v, member, files, kind in batches:
                base = meta.commit._member_root(meta.root, member)
                consts = {CDF_VERSION: int(v)}
                if kind == "insert":
                    consts[CDF_TYPE] = "insert"
                for i in range(0, len(files), n):
                    out.append(
                        _FilesPartition(
                            base, files[i : i + n], smeta,
                            schema_json, consts=consts,
                        )
                    )
            return out or [
                _FilesPartition(meta.base, [], smeta, schema_json)
            ]
        if self.predicates:
            kept, _total = meta.commit.prune_files(
                meta.host, meta.path, self.predicates,
                version=self.version,
            )
            files = kept
            smeta_entry = meta.commit._load_entry(
                meta.host, meta.path, meta.root, self.version
            )
        else:
            smeta_entry = meta.commit._load_entry(
                meta.host, meta.path, meta.root, self.version
            )
            files = smeta_entry["tables"].get(meta.member, [])
        smeta = (
            smeta_entry.get("app", {}).get(
                meta.commit._schema_key(meta.member)
            )
            or {}
        )
        if not files:
            return [
                _FilesPartition(meta.base, [], smeta, self.schema.json())
            ]
        schema_json = self.schema.json()
        n = self.files_per_partition
        # deletion vectors (r14): ship each chunk's blob refs so the
        # task masks deleted positions — planned from the entry's
        # stats, zero extra IO
        dvmap = meta.commit._dv_map(smeta_entry, meta.member, files)
        return [
            _FilesPartition(
                meta.base, chunk, smeta, schema_json,
                {f: dvmap[f]["path"] for f in chunk if f in dvmap},
            )
            for chunk in (
                files[i : i + n] for i in range(0, len(files), n)
            )
        ]

    def read(self, partition: _FilesPartition):
        yield from _read_files_partition(partition)


def _check_nested_write_schema(schema, smeta: dict) -> None:
    """Plan-time validation of a connector write against the member's
    nested specs (r15): a field resolving to a DROPPED physical leaf,
    or a NEW field aliasing an existing field's physical name, refuses
    before any task runs — the same rules the engine's
    ``_nested_physical_col`` enforces."""
    from pyspark.sql.types import StructType

    from redis_lsm_timeseries_spark.commit import ManifestCommit
    from redis_lsm_timeseries_spark.errors import ValidationError

    nested = smeta.get("nested", {})
    mapping = smeta.get("map", {})

    def descend(dt, phys_path, lpath):
        """Dispatch into struct fields and repetition contexts (r16:
        array elements / map values) wherever a deeper spec applies."""
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, StructType):
            walk(dt, phys_path, lpath)
        elif isinstance(dt, ArrayType):
            descend(
                dt.elementType, f"{phys_path}.element",
                f"{lpath}.element",
            )
        elif isinstance(dt, MapType):
            descend(
                dt.valueType, f"{phys_path}.value", f"{lpath}.value"
            )

    def walk(dt, phys_path, lpath):
        spec = nested.get(phys_path) or {}
        nmap = spec.get("map", {})
        ndrop = set(spec.get("drop", []))
        targets = {p for l, p in nmap.items() if p != l}
        for f in dt.fields:
            pl = nmap.get(f.name, f.name)
            if pl in ndrop:
                raise ValidationError(  # unreachable post-remint
                    f"rlts_table writer: nested field "
                    f"{lpath}.{f.name} still resolves to a DROPPED "
                    "physical leaf after the remint — racing schema "
                    "evolutions; retry the write"
                )
            if f.name not in nmap and pl in targets:
                raise ValidationError(
                    f"rlts_table writer: new nested field "
                    f"{lpath}.{f.name} collides with an existing "
                    "field's PHYSICAL name"
                )
            child = f"{phys_path}.{pl}"
            if ManifestCommit._nested_under(nested, child):
                descend(f.dataType, child, f"{lpath}.{f.name}")

    for f in schema.fields:
        phys = mapping.get(f.name, f.name)
        if ManifestCommit._nested_under(nested, phys):
            descend(f.dataType, phys, f.name)


def _nested_arrow_to_physical(arr, phys_path: str, nested: dict):
    """Arrow-side logical -> physical struct translation for the
    connector WRITER (r15; repetition contexts r16): rename leaves to
    their stable physical names and widen-cast widened ones,
    recursing into struct children with deeper specs and stepping
    through list elements / map values — the write mirror of
    ``_nested_arrow``. Validation happened at plan time; struct-level
    NULLs carry over."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from redis_lsm_timeseries_spark.commit import ManifestCommit

    spec = nested.get(phys_path) or {}
    nmap = spec.get("map", {})
    wmap = spec.get("widen", {})
    wide = {"long": pa.int64(), "double": pa.float64()}
    chunks = arr.chunks if isinstance(arr, pa.ChunkedArray) else [arr]
    out = []
    for chunk in chunks:
        st = chunk.type
        if not pa.types.is_struct(st):
            out.append(
                _arrow_repetition_rewrap(
                    chunk, phys_path,
                    lambda c, p: _nested_arrow_to_physical(c, p, nested),
                )
            )
            continue
        children, names = [], []
        for i in range(st.num_fields):
            f = st.field(i)
            phys_leaf = nmap.get(f.name, f.name)
            child = chunk.field(i)
            child_path = f"{phys_path}.{phys_leaf}"
            if _arrow_nested_type(f.type) and ManifestCommit._nested_under(
                nested, child_path
            ):
                child = _nested_arrow_to_physical(
                    child, child_path, nested
                )
            if phys_leaf in wmap:
                child = child.cast(wide[wmap[phys_leaf]])
            children.append(child)
            names.append(phys_leaf)
        out.append(
            pa.StructArray.from_arrays(
                children, names, mask=pc.is_null(chunk)
            )
        )
    return pa.chunked_array(out) if len(out) != 1 else out[0]


def _validate_constraints_arrow(tbl, cons: dict, path: str) -> None:
    """Task-side CHECK-constraint validation of a staged Arrow table
    (LOGICAL column names — runs before the physical rename), with
    the engine's ``_violation`` semantics exactly: a row violates when
    ``NOT COALESCE(CAST(expr AS BOOLEAN), FALSE)`` — NULL counts as a
    violation, a constraint must PROVE every row (``commit.py``
    ``_violation``). Spark's task workers carry no SparkSession, so
    the expression evaluates through embedded DuckDB; constraint
    expressions are the engine-documented ANSI subset both engines
    parse identically (the same discipline the catalog oracles pin)."""
    import duckdb

    from redis_lsm_timeseries_spark.errors import ValidationError

    con = duckdb.connect()
    try:
        con.register("staged", tbl)
        for cname, expr in sorted(cons.items()):
            bad = con.execute(
                "SELECT * FROM staged WHERE NOT COALESCE(CAST(("
                + expr
                + ") AS BOOLEAN), FALSE) LIMIT 1"
            ).fetchall()
            if bad:
                raise ValidationError(
                    f"rlts_table write to {path!r}: CHECK constraint "
                    f"{cname!r} ({expr}) violated by staged row "
                    f"{bad[0]!r} — the job aborts; nothing commits"
                )
    finally:
        con.close()


def _hive_segment_value(v) -> str:
    """Partition directory VALUE text for one row value, matching
    what Spark's own ``partitionBy`` writes (so connector files and
    ``append_partitioned`` files interleave in one member): NULL and
    the empty string both map to the hive default-partition sentinel
    (Spark's ``getPartitionValueString``), booleans lowercase, ints
    and dates via their canonical text, everything else escaped."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    if v is None or v == "":
        return ManifestCommit.HIVE_NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return ManifestCommit._escape_partition_value(str(v))


def _check_partition_write_schema(schema, part_logical) -> None:
    """Plan-time gate for a partitioned connector write: every
    partition column present in the incoming schema with a type whose
    text form round-trips through a hive path segment EXACTLY as
    Spark's own writer would render it (string / integral / boolean /
    date). Float, timestamp, and nested partition values refuse
    toward ``append_partitioned`` (Spark's JVM float/timestamp
    rendering differs from Python's, and a divergent segment would
    split one logical partition into two directories)."""
    from pyspark.sql import types as T

    from redis_lsm_timeseries_spark.errors import ValidationError

    ok = (
        T.StringType, T.ByteType, T.ShortType, T.IntegerType,
        T.LongType, T.BooleanType, T.DateType,
    )
    fields = {f.name: f for f in schema.fields}
    for c in part_logical:
        f = fields.get(c)
        if f is None:
            raise ValidationError(
                f"rlts_table writer: the member is hive-partitioned "
                f"on {part_logical!r} but the incoming schema has no "
                f"column {c!r} — partition values ride in the rows"
            )
        if not isinstance(f.dataType, ok):
            raise ValidationError(
                f"rlts_table writer: partition column {c!r} has type "
                f"{f.dataType.simpleString()}; the connector "
                "reproduces hive segments for string/integral/"
                "boolean/date values only — write through "
                "append_partitioned for other types"
            )
    if len(part_logical) >= len(fields):
        raise ValidationError(
            "rlts_table writer: every incoming column is a partition "
            "column; a hive data file needs at least one non-"
            "partition column (Spark's own writer refuses this too)"
        )


class _WrittenFiles(WriterCommitMessage):
    """Task commit message: the relpaths this task landed under the
    member's data dir."""

    def __init__(self, relpaths):
        self.relpaths = list(relpaths)


class ManifestArrowWriter(DataSourceArrowWriter):
    """Batch WRITE through the connector — Spark's two-phase writer
    protocol mapped onto the manifest commit: every task writes its
    Arrow batches as one parquet file directly under the member's
    data dir (physically present but UNREFERENCED — the engine's
    leaseless-commit pattern, protected by vacuum's grace window),
    returns the relpath as its commit message, and the driver's
    ``commit()`` lands ONE atomic log entry referencing exactly the
    files of the successful attempt. A failed/aborted job leaves only
    invisible orphans (``abort()`` deletes best-effort; vacuum
    collects stragglers after the grace window) — never a
    half-visible table.

    ``mode("append")`` appends the files; ``mode("overwrite")``
    replaces the member's file list (an unmarked content rewrite —
    feeds over the range resync, the safe posture). Schema-mapped
    members translate logical -> physical names and widen-cast in
    Arrow, task-side. Hive-partitioned members (r16) reproduce the
    partition layout task-side: each task splits its rows by the
    partition values and lands one file per partition directory,
    matching ``append_partitioned``'s layout byte-for-byte (segment
    escaping included) so connector files and engine files interleave
    in one member; the read-back prunes on the path-derived stats.
    Dropped-name reuse REMINTS at PLAN time (r16): the planner runs
    driver-side, so the synthetic-physical-name commit lands before
    any task, exactly as an engine append would — top-level and
    nested leaves alike (non-atomic nested re-adds refuse toward
    rewrite, the remint's own rule)."""

    def __init__(self, schema, overwrite: bool, options):
        import uuid

        from redis_lsm_timeseries_spark.commit import (
            CommitHost,
            ManifestCommit,
        )
        from redis_lsm_timeseries_spark.errors import ValidationError

        path = options.get("path") or options.get("tablepath")
        if not path:
            raise ValidationError(
                "rlts_table: option 'path' (the manifest member path) "
                "is required"
            )
        self.overwrite = bool(overwrite)
        commit, host = ManifestCommit(), CommitHost(None)
        target = commit._target_for_write(host, path)
        if target is None:
            raise ValidationError(
                f"rlts_table: {path!r} is not manifest-managed and "
                "cannot become so here"
            )
        self.path = path
        self.root, self.member = target
        self.base = commit._member_root(self.root, self.member)
        self.token = uuid.uuid4().hex[:16]
        _, entry = commit._current_entry(host, self.root)
        _, tables = commit._current(host, self.root)
        # overwrite conflict base: the snapshot_rewrite posture — a
        # concurrent commit to the member between plan and commit
        # must CONFLICT, not be silently dropped from the manifest
        # (its files would be unreferenced and vacuumed: a lost
        # update). Append mode needs no base (its mutate re-derives).
        self.base_files = list(tables.get(self.member, []))
        # CHECK constraints (r15): validated TASK-SIDE against each
        # task's staged Arrow output before its file lands — the
        # 100 TB shape (validation parallelizes with the write; a
        # driver-side scan of all new files would serialize). The
        # expressions evaluate through an embedded SQL engine with the
        # engine's exact semantics (NULL = violation); they live in
        # the same ANSI subset the catalog oracles pin. A violating
        # task raises, Spark aborts the job, and ``abort()`` leaves
        # only invisible orphans. The driver commit CAS-checks the
        # constraint map so rows validated against the plan-time map
        # can never land behind a concurrently added/dropped
        # constraint (the same guard engine-staged writes carry).
        self.cons = dict(entry.get("app", {}).get(
            commit._constraint_key(self.member)
        ) or {})
        self.cons_at_plan = entry.get("app", {}).get(
            commit._constraint_key(self.member)
        )
        # dialect gate at PLAN time (r16): add_constraint dry-runs
        # expressions in DuckDB only when the table already has data
        # (an empty member has no schema to bind against), so a
        # Spark-only expression installed pre-data would otherwise
        # surface as a worker-side parse error mid-job — refuse here,
        # before any task runs, against the WRITE schema
        for cname, cexpr in sorted(self.cons.items()):
            commit._constraint_dialect_gate(schema, cname, cexpr)
        smeta = entry.get("app", {}).get(
            commit._schema_key(self.member)
        ) or {}
        # dropped-name reuse (r16): the writer's planner runs
        # DRIVER-side, so the remint's metadata-only CAS-guarded
        # commit can land right here, exactly as an engine append
        # would — a re-added column (top-level or nested leaf) mints
        # its synthetic physical name before any task runs, and the
        # old refusal toward append_table_with_meta is gone
        mapping = smeta.get("map", {})
        dropped = set(smeta.get("drop", []))
        reused = [
            c for c in schema.fieldNames()
            if mapping.get(c, c) in dropped
        ]
        if reused:
            smeta = commit._remint_dropped(
                host, self.root, self.member,
                {f.name: f.dataType.simpleString()
                 for f in schema.fields},
                reused,
            )
        n_reused = ManifestCommit._nested_reuse_sites(
            schema, smeta.get("map", {}), smeta.get("nested", {})
        ) if smeta.get("nested") else []
        if n_reused:
            smeta = commit._remint_nested_dropped(
                host, self.root, self.member, n_reused
            )
        # nested-field evolution (r15): the writer translates struct
        # leaves logical -> physical in Arrow, task-side (rename +
        # widen cast, mirroring the engine's _nested_physical_col);
        # physical-name collisions refuse at PLAN time
        if smeta.get("nested"):
            _check_nested_write_schema(schema, smeta)
        mapping = smeta.get("map", {})
        dropped = set(smeta.get("drop", []))
        targets = {p for l, p in mapping.items() if p != l}
        for c in schema.fieldNames():
            phys = mapping.get(c, c)
            if phys in dropped:
                raise ValidationError(  # unreachable post-remint
                    f"rlts_table writer: column {c!r} still resolves "
                    "to a DROPPED physical name after the remint — "
                    "racing schema evolutions; retry the write"
                )
            if c not in mapping and phys in targets:
                raise ValidationError(
                    f"rlts_table writer: new column {c!r} collides "
                    "with an existing column's PHYSICAL name"
                )
        self.smeta = smeta
        # hive-partitioned members (r16): the writer reproduces the
        # member's partition layout TASK-SIDE — each task splits its
        # staged Arrow output by the partition values carried in the
        # rows and lands one file per (task, partition) under the
        # hive directory the engine's ``append_partitioned`` defines
        # (``tag=a/part_start=0/...``; the reference's own
        # tag-partitionStart layout, ``index.js:121-122``). The layout
        # derives from the member's existing files; an EMPTY member
        # takes it from ``.option("partitionBy", "tag,part_start")``
        # (Spark's own ``.partitionBy()`` never reaches a Python
        # DataSource writer). Partition-path stats land via the same
        # path-segment min==max rule every engine write uses, so
        # partition-valued predicates prune the read-back.
        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )

        inv = {p: l for l, p in mapping.items()}
        part_phys = partition_cols_of(self.base_files)
        part_logical = [inv.get(p, p) for p in part_phys]
        opt = options.get("partitionby")
        if opt is not None:
            opt_cols = [
                c.strip() for c in str(opt).split(",") if c.strip()
            ]
            if (
                self.base_files
                and not self.overwrite
                and opt_cols != part_logical
            ):
                # an APPEND must reproduce the member's layout — a
                # file at a different depth corrupts partition
                # discovery; an OVERWRITE replaces the whole file
                # list, so re-laying-out there is legitimate
                raise ValidationError(
                    f"rlts_table writer: option partitionBy "
                    f"{opt_cols!r} does not match the member's "
                    f"existing hive layout {part_logical!r} — a file "
                    "committed under a different layout would corrupt "
                    "partition discovery for the whole member"
                )
            part_logical = opt_cols
            part_phys = [mapping.get(c, c) for c in opt_cols]
        self.part_logical, self.part_phys = part_logical, part_phys
        if part_logical:
            _check_partition_write_schema(schema, part_logical)

    # -- executor leg ---------------------------------------------------
    def write(self, iterator):
        import os as _os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _WrittenFiles([])
        tbl = pa.Table.from_batches(batches)
        if self.cons:
            _validate_constraints_arrow(tbl, self.cons, self.path)
        # logical -> physical: rename mapped columns, widen-cast,
        # translate nested struct leaves (r15)
        mapping = self.smeta.get("map", {})
        widen = self.smeta.get("widen", {})
        nested = self.smeta.get("nested", {})
        if mapping or widen or nested:
            from redis_lsm_timeseries_spark.commit import (
                ManifestCommit as _MC,
            )

            wide = {"long": pa.int64(), "double": pa.float64()}
            cols, names = [], []
            for name in tbl.schema.names:
                col = tbl.column(name)
                phys = mapping.get(name, name)
                if (
                    nested
                    and _arrow_nested_type(col.type)
                    and _MC._nested_under(nested, phys)
                ):
                    col = _nested_arrow_to_physical(col, phys, nested)
                if name in widen:
                    col = col.cast(wide[widen[name]])
                cols.append(col)
                names.append(phys)
            tbl = pa.table(dict(zip(names, cols)))
        if not self.part_phys:
            rel = f"{self.token}-w{uuid.uuid4().hex[:12]}.parquet"
            _os.makedirs(self.base, exist_ok=True)
            pq.write_table(tbl, f"{self.base}/{rel}")
            return _WrittenFiles([rel])
        # hive-partitioned member (r16; sort-then-slice r17, VERDICT
        # r16 minor note): split THIS task's rows by their partition
        # values and land one file per (task, partition) under the
        # member's hive directories — partition columns live in the
        # path only (the layout contract), and the driver's
        # path-segment stats make the read-back prune. ONE sort on
        # the partition columns + zero-copy slices at the run
        # boundaries: linear in rows regardless of how many distinct
        # partitions a task holds (the prior per-combo filter pass
        # was O(partitions x rows)).
        import numpy as np
        import pyarrow.compute as pc

        keep = [
            n for n in tbl.schema.names
            if n not in set(self.part_phys)
        ]
        if tbl.num_rows == 0:
            return _WrittenFiles([])
        stbl = tbl.take(
            pc.sort_indices(
                tbl,
                sort_keys=[(c, "ascending") for c in self.part_phys],
                null_placement="at_end",
            )
        )
        n = stbl.num_rows
        # run boundaries: row i starts a new partition when any
        # partition column differs from row i-1 (null-safe: a
        # null-vs-value flip counts, null-vs-null does not)
        change = np.zeros(max(0, n - 1), dtype=bool)
        for c in self.part_phys:
            col = stbl.column(c).combine_chunks()
            a, b = col.slice(0, n - 1), col.slice(1)
            neq = pc.fill_null(pc.not_equal(a, b), False)
            flip = pc.not_equal(pc.is_null(a), pc.is_null(b))
            change |= pc.or_(neq, flip).to_numpy(
                zero_copy_only=False
            )
        starts = [0] + (np.nonzero(change)[0] + 1).tolist() + [n]
        rels = []
        for off, end in zip(starts[:-1], starts[1:]):
            segs = "/".join(
                f"{c}={_hive_segment_value(stbl.column(c)[off].as_py())}"
                for c in self.part_phys
            )
            rel = f"{segs}/{self.token}-w{uuid.uuid4().hex[:12]}.parquet"
            _os.makedirs(f"{self.base}/{segs}", exist_ok=True)
            pq.write_table(
                stbl.slice(off, end - off).select(keep),
                f"{self.base}/{rel}",
            )
            rels.append(rel)
        return _WrittenFiles(rels)

    # -- driver leg -------------------------------------------------------
    def commit(self, messages):
        from redis_lsm_timeseries_spark.commit import (
            CommitHost,
            ManifestCommit,
        )

        commit, host = ManifestCommit(), CommitHost(None)
        files = [
            rel
            for m in messages
            if m is not None
            for rel in m.relpaths
        ]
        member = self.member

        if self.overwrite:
            base = self.base_files

            def mutate(tables):
                from redis_lsm_timeseries_spark.errors import (
                    RewriteConflictError,
                )

                if list(tables.get(member, [])) != base:
                    raise RewriteConflictError(
                        f"rlts_table overwrite of {self.path!r} "
                        "conflicts with a concurrent commit to the "
                        "same member; retry the write on fresh state"
                    )
                return {**tables, member: files}
        else:
            def mutate(tables):
                return {
                    **tables, member: tables.get(member, []) + files
                }

        mutate.stats_add = commit._file_stats(
            host, self.root, member, files
        )
        # CAS the constraint map the tasks validated against (r15):
        # a constraint added/dropped between plan and this commit
        # conflicts instead of landing unvalidated rows behind it —
        # the connector mirror of _stage_data's commit-time guard.
        mutate.entry_guard = commit._app_cas_guard(
            {commit._constraint_key(member): self.cons_at_plan}
        )
        commit._commit(host, self.root, mutate)

    def abort(self, messages):
        import os as _os

        for m in messages:
            if m is None:
                continue
            for rel in m.relpaths:
                try:
                    _os.remove(f"{self.base}/{rel}")
                except OSError:
                    pass


class ManifestTableDataSource(DataSource):
    """``spark.dataSource.register(ManifestTableDataSource)`` then
    ``spark.readStream.format("rlts_table").option("path", p)`` for
    the change-feed stream, ``spark.read.format("rlts_table")`` for a
    stats-pruned batch scan (``versionAsOf`` time travel), or
    ``df.write.format("rlts_table").mode("append"|"overwrite")`` for
    an atomic manifest-committed write. See module docstring."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        """Inferred LOGICAL schema when the caller gave none: the
        newest data file's footer through the column mapping, plus
        hive partition columns typed by value shape (int-parsable ->
        long). Explicit ``.schema(...)`` is recommended for
        production streams (inference reads one footer at plan
        time)."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StringType, StructField

        meta = _Meta(self.options["path"])
        _, tables = meta.commit._current(meta.host, meta.root)
        files = tables.get(meta.member, [])
        if not files:
            from redis_lsm_timeseries_spark.errors import ValidationError

            raise ValidationError(
                "rlts_table: cannot infer a schema from an empty "
                "table — pass .schema(...) explicitly"
            )
        rel = files[-1]
        smeta = meta.schema_meta()
        mapping = smeta.get("map", {})
        dropped = set(smeta.get("drop", []))
        widen = smeta.get("widen", {})
        nested = smeta.get("nested", {})
        inv = {p: l for l, p in mapping.items()}
        phys = pq.read_schema(f"{meta.base}/{rel}")
        st = from_arrow_schema(phys)
        fields = []
        for f in st.fields:
            if f.name in dropped:
                continue
            logical = inv.get(f.name, f.name)
            dt = f.dataType
            from pyspark.sql.types import StructType as _ST

            from redis_lsm_timeseries_spark.commit import (
                ManifestCommit as _MC,
            )

            if (
                nested
                and _MC._nested_dispatchable(dt)
                and _MC._nested_under(nested, f.name)
            ):
                # nested specs (r15/r16): infer the LOGICAL shape,
                # stepping through repetition contexts
                dt = _MC._nested_type_any(dt, f.name, nested)
            if logical in widen:
                from pyspark.sql.types import DoubleType
                from pyspark.sql.types import LongType as _L

                dt = _L() if widen[logical] == "long" else DoubleType()
            fields.append(StructField(logical, dt, True))
        # reminted columns (dropped-name reuse) may be absent from the
        # sampled footer: force them in from their recorded type.
        # Parsed session-free (the DataSource planner process has no
        # SparkContext); an exotic type is OMITTED — pass an explicit
        # schema then, same contract as the rest of inference
        have = {f.name for f in fields}
        for phys, ddl in smeta.get("phys_types", {}).items():
            if phys in dropped:
                continue
            logical = inv.get(phys, phys)
            dt = _simple_ddl_type(ddl)
            if logical not in have and dt is not None:
                fields.append(StructField(logical, dt, True))
                have.add(logical)
        present = {f.name for f in fields}
        for k, v in _hive_values(rel).items():
            if k not in present:
                try:
                    int(v)
                    fields.append(StructField(k, LongType(), True))
                except (ValueError, TypeError):
                    # non-numeric value, or the sampled file sits in a
                    # NULL partition (value None)
                    fields.append(StructField(k, StringType(), True))
        if self._wants_cdf(self.options):
            fields.append(StructField(CDF_TYPE, StringType(), True))
            fields.append(StructField(CDF_VERSION, LongType(), True))
        from pyspark.sql.types import StructType

        return StructType(fields)

    @staticmethod
    def _wants_cdf(options) -> bool:
        return str(
            options.get("readchangefeed", "false")
        ).lower() in ("true", "1")

    def streamReader(self, schema):
        if self._wants_cdf(self.options):
            return ChangeFeedStreamReader(schema, self.options)
        return ManifestStreamReader(schema, self.options)

    def reader(self, schema):
        return ManifestBatchReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return ManifestArrowWriter(schema, overwrite, self.options)


def _ship_package(spark) -> None:
    """Make the engine package importable in Spark's PYTHON WORKERS
    (r15): the DataSource class is cloudpickled BY REFERENCE and
    unpickled in worker processes whose ``sys.path`` is the worker
    env's, not the driver's — a driver that imported the engine via
    ``sys.path`` manipulation (the grading harness, any embedding
    app) gets ``ModuleNotFoundError`` in the first task. Shipping the
    package once per session via ``addPyFile`` (a zip built from the
    installed source tree, cached per process) makes the connector
    self-contained; sessions whose workers already see the package
    (cwd-launched dev runs, cluster-installed wheels) are unaffected
    — addPyFile paths take import priority without conflict."""
    sc = spark.sparkContext
    if getattr(sc, "_rlts_pkg_shipped", False):
        return
    import os as _os
    import tempfile as _tempfile
    import zipfile as _zipfile

    import redis_lsm_timeseries_spark as _pkg

    pkg_dir = _os.path.dirname(_os.path.abspath(_pkg.__file__))
    zip_path = _os.path.join(
        _tempfile.gettempdir(), f"rlts_pkg_{_os.getpid()}.zip"
    )
    if not _os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with _zipfile.ZipFile(tmp, "w") as zf:
            for base, _dirs, names in _os.walk(pkg_dir):
                for n in names:
                    if not n.endswith(".py"):
                        continue
                    full = _os.path.join(base, n)
                    rel = _os.path.relpath(
                        full, _os.path.dirname(pkg_dir)
                    )
                    zf.write(full, rel)
        _os.replace(tmp, zip_path)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already added by a prior session sharing the context
    sc._rlts_pkg_shipped = True


def register_manifest_source(spark) -> None:
    """Register the ``rlts_table`` format on this session
    (idempotent), enabling Python-DataSource filter pushdown — the
    batch reader's manifest-stats skipping is gated on it (4.1
    default: off; a session where the conf cannot be set still reads
    correctly, minus the skipping) — and shipping the engine package
    to the Python workers so the pickled DataSource imports there
    regardless of how the driver found the package."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    _ship_package(spark)
    spark.dataSource.register(ManifestTableDataSource)


def read_table_stream(spark, path: str, schema=None, **options):
    """Convenience: a streaming DataFrame over the manifest table at
    ``path`` (registers the format, applies options). ``schema`` is a
    DDL string or StructType; omitted -> inferred from the newest
    footer."""
    register_manifest_source(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", path)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load()


def read_table_batch(
    spark, path: str, schema=None, version: int | None = None, **options
):
    """Convenience: a BATCH DataFrame over the manifest table at
    ``path`` through the ``rlts_table`` connector — filters on the
    result push down into manifest-stats file skipping
    (``ManifestBatchReader``); ``version`` time-travels. Pass an
    explicit ``schema`` when time-traveling across schema changes
    (inference reads the CURRENT newest footer)."""
    register_manifest_source(spark)
    reader = spark.read.format(FORMAT_NAME).option("path", path)
    if version is not None:
        reader = reader.option("versionasof", str(version))
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load()
