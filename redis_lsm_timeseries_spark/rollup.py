"""Continuous rollups: incrementally-maintained time-bucket aggregates
over the store — the TimescaleDB "continuous aggregate" surface the
reference's consumers reach for once dashboards arrive, built on the
engine's own maintenance machinery.

Why incremental is correct here: the store's logical content (hot ∪
cold, member-identity-deduped, LWW-merged) only changes through writes,
and every write carries an ``ingest_ts`` — eviction moves rows between
tiers without changing the logical view (``test/consumer-test.js``'s
no-data-loss posture), and compaction rewrites keep LWW winners. So a
refresh needs to recompute exactly the (tag, bucket) groups touched by
members with ``ingest_ts`` past the last refresh watermark — work
proportional to the write rate, never a rescan of the corpus. An
update to an old key (late write, LWW supersede) re-touches its bucket
and the recompute re-derives that bucket from scratch, so updates and
tombstones are handled by construction, not by patch arithmetic.

One data path at every store size, on the driver. The probe streams
``tag``, ``ts`` and ``ingest_ts`` from the hot and cold files whose
footer ``max(ingest_ts)`` is at or past the watermark and keeps only
per-(tag, bucket) stats (identity columns are read only at a boundary
``ingest_ts``). The recompute runs the selected tags in batches whose
touched member files and old rollup files total at most
``MAX_DRIVER_READ_BYTES`` (a tag over the cap is a batch alone): one
Arrow kernel takes the LWW winners, aggregates and merges the carried
buckets, and stages each tag's content in a hidden directory; the
refresh publishes after the last batch, then writes the meta. Value →
number casts are Spark's own, over a local relation (no job); a
``with_sketch`` rollup's HLL sketches are ``hll_sketch_agg`` over each
batch's winners (one job). Sums accumulate in DECIMAL and surface as
DOUBLE, so an incremental refresh is bit-identical to the Spark SQL
full recompute (``rollup_full``) regardless of aggregation order.

The backend only picks the I/O: pyarrow over a plain-directory
backend's files, each tag published by one rename over its single
file; on a version-logged one (``driver_table_files`` is None) the
seam reads the cold members and carried rows, and publishes with one
``overwrite_partitions`` over the staged files.

All refreshes run under the namespace maintenance lease, like every
other mutation job (``tiering.py``).
"""

from __future__ import annotations

import bisect
import itertools
import json
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, functions as F, types as T

from redis_lsm_timeseries_spark.commit import _driver_arrow_schema, _driver_parquet_file
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.lww import lww_latest, lww_latest_arrow
from redis_lsm_timeseries_spark.schema import MEMBER_IDENTITY_COLS, SAMPLE_SCHEMA
from redis_lsm_timeseries_spark.session import local_frame
from redis_lsm_timeseries_spark.store import (
    DriverFiles,
    PartitionFilter,
    TimeseriesStore,
    _file_sizes,
    driver_read_bytes,
    member_dataset,
    size_batches,
    tag_dir,
)
from redis_lsm_timeseries_spark.tiering import maintenance_lease

META_NAME = "_rollup_meta.json"

#: exact, order-independent accumulation; cast to double on output
SUM_DECIMAL = "decimal(28,10)"

#: the rollup table's rows as a read returns them (every column of a
#: Parquet scan is nullable); a ``with_sketch`` rollup adds
#: ``distinct_sketch`` (``_rollup_schema``). A file holds every column
#: but ``tag``, its hive directory name.
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.StringType()),
        T.StructField("bucket_start", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_numeric", T.LongType()),
        T.StructField("sum_num", T.DoubleType()),
        T.StructField("min_num", T.DoubleType()),
        T.StructField("max_num", T.DoubleType()),
        T.StructField("n_distinct", T.LongType()),
    ]
)

#: ``ROLLUP_SCHEMA`` as the refresh reads and writes it with pyarrow
_ROLLUP_ARROW = _driver_arrow_schema(ROLLUP_SCHEMA)
#: the raw members as the refresh reads them
_MEMBER_ARROW = _driver_arrow_schema(SAMPLE_SCHEMA)


def _rollup_schema(with_sketch: bool) -> T.StructType:
    if not with_sketch:
        return ROLLUP_SCHEMA
    return T.StructType(
        [*ROLLUP_SCHEMA.fields, T.StructField("distinct_sketch", T.BinaryType())]
    )


def _rollup_arrow(with_sketch: bool):
    """``_rollup_schema`` as a pyarrow schema."""
    if not with_sketch:
        return _ROLLUP_ARROW
    return _ROLLUP_ARROW.append(pa.field("distinct_sketch", pa.binary()))


@dataclass(frozen=True)
class RollupMetrics:
    buckets_refreshed: int
    tags_touched: int
    watermark_ingest_ts: int
    #: True when ``max_tags`` capped this run — more touched work is
    #: pending and the recorded watermark did NOT advance past it;
    #: call ``refresh_rollup`` again to continue the backlog.
    backlog: bool = False


def _paths(store: TimeseriesStore, name: str) -> tuple[str, str]:
    base = f"{store.config.base_path}/rollups/{name}"
    return f"{base}/data", f"{base}/{META_NAME}"


def _members(store: TimeseriesStore) -> DataFrame:
    """The logical member view: hot ∪ cold, exact duplicates dropped
    by identity — the same base relation
    ``read_range(include_cold=True)`` merges."""
    return store.hot().unionByName(store.cold()).dropDuplicates(MEMBER_IDENTITY_COLS)


def _bucket(step: int):
    return (F.col("ts") - F.pmod(F.col("ts"), F.lit(int(step)))).cast("long")


def _aggregate(winners: DataFrame, step: int) -> DataFrame:
    """Per-(tag, bucket) aggregate over LWW winners (tombstones —
    NULL-value winners — excluded, mirroring the read path). Values
    are opaque strings; numeric stats cover the castable subset.

    ``n_distinct`` is the distinct-members shape (TimescaleDB's
    distinct-users continuous aggregate): every touched bucket is
    recomputed FROM THE BASE SLICE, so count-distinct needs no
    mergeable state — incremental == full by construction, the same
    discipline as every other column."""
    # try_cast, not cast: values are OPAQUE strings (reference
    # semantics) and ANSI mode makes a plain cast throw on the first
    # non-numeric one; the numeric stats cover the castable subset
    num = F.col("value").try_cast("double")
    return (
        winners.where(F.col("value").isNotNull())
        .select(
            "tag",
            _bucket(step).alias("bucket_start"),
            F.col("value"),
            num.alias("_num"),
        )
        .groupBy("tag", "bucket_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("_num").cast("long").alias("n_numeric"),
            F.sum(F.col("_num").cast(SUM_DECIMAL))
            .cast("double")
            .alias("sum_num"),
            F.min("_num").alias("min_num"),
            F.max("_num").alias("max_num"),
            F.countDistinct("value").cast("long").alias("n_distinct"),
        )
    )


def rollup_full(store: TimeseriesStore, step: int) -> DataFrame:
    """The full recompute in Spark SQL — the semantic definition the
    incremental refresh must equal (and the test oracle for it)."""
    return _aggregate(lww_latest(_members(store)), step)


#: default bound on one refresh's driver-side state (collected tag
#: lists) and rewrite blast radius — same posture as
#: ``apply_retention``'s ``max_partitions``.
DEFAULT_MAX_TAGS = 10_000


def refresh_rollup(
    store: TimeseriesStore,
    name: str,
    step: int,
    max_tags: int = DEFAULT_MAX_TAGS,
    with_sketch: bool = False,
) -> RollupMetrics:
    """Create or incrementally refresh the named rollup.

    First call: full compute, persist, record the ingest watermark
    (``with_sketch`` fixes whether the rollup carries mergeable HLL
    distinct sketches — like ``step``, it is a creation-time property
    and a mismatched refresh raises).
    Later calls: find members with ``ingest_ts`` past the watermark,
    recompute ONLY their (tag, bucket) groups, and rewrite only the
    touched tag partitions (old buckets of those tags carried over,
    touched buckets replaced — deletions of now-empty buckets
    included). Refreshing with a different ``step`` than the rollup
    was created with raises.

    ``max_tags`` bounds one run: when more tags are touched, the run
    processes the ``max_tags`` with the OLDEST new work (by min new
    ``ingest_ts``), records a backlog cursor, and leaves the watermark
    where it was — the recorded watermark only ever advances past
    fully-processed work. Subsequent calls continue the backlog from
    the cursor until it drains (``RollupMetrics.backlog`` False), then
    resume normal watermark advancement. Correctness of the cursor
    relies on the same contract the watermark itself does: ``ingest_ts``
    is wall-clock at write and does not travel backwards below a
    captured maximum.

    How it runs (see the module docstring): on the driver, in batches
    of tags, at every store size; no Spark job on a plain-directory
    backend but a sketch rollup's one per batch. A store whose L1 a
    streaming file sink owns is refused (``SinkManagedHotTierError``):
    the sink's log, not the listed files, defines its hot tier."""
    if step <= 0:
        raise ValidationError("step must be positive")
    if max_tags < 1:
        raise ValidationError("max_tags must be >= 1")
    store._require_init()
    store._require_l1_batch_writable()
    with maintenance_lease(store):
        return _refresh_locked(
            store, name, int(step), int(max_tags), bool(with_sketch)
        )


#: on-disk rollup schema format. 2 = the r9 widening that added exact
#: ``n_distinct`` (and optional ``distinct_sketch``) columns. A rollup
#: whose meta predates the current format would read back NULL
#: n_distinct under an explicit-schema read and then MERGE nulls with
#: real counts on refresh — silently wrong; reads and refreshes raise
#: instead, directing a full recompute (drop + re-create backfills).
ROLLUP_FORMAT = 2


def _write_meta(store, meta_path: str, **fields) -> None:
    """Write the meta under a hidden temp name, then rename it into
    place: the meta is a refresh's commit point, so a crash leaves the
    old one or the new one whole."""
    head, name = meta_path.rsplit("/", 1)
    tmp = f"{head}/.{name}.inprogress"
    store.fs.write_text(tmp, json.dumps({"format": ROLLUP_FORMAT, **fields}))
    store.fs.rename(tmp, meta_path)


def _load_meta(store, meta_path: str, name: str) -> dict:
    meta = json.loads(store.fs.read_text(meta_path))
    fmt = meta.get("format")
    if fmt != ROLLUP_FORMAT:
        raise ValidationError(
            f"rollup {name!r} was written with on-disk format "
            f"{fmt!r}; this engine reads format {ROLLUP_FORMAT} "
            "(n_distinct columns). Recompute it: delete the rollup "
            "and refresh from scratch."
        )
    return meta


def _refresh_locked(
    store: TimeseriesStore,
    name: str,
    step: int,
    max_tags: int,
    with_sketch: bool,
) -> RollupMetrics:
    """The refresh protocol (watermark, boundary count, backlog cursor,
    meta) over the data steps below."""
    data_path, meta_path = _paths(store, name)
    # Under the lease neither the cold tier nor the rollup table
    # changes but by this refresh, so each is listed once. None: the
    # backend reads its cold tier through the seam.
    cold = store.commit.driver_table_files(store, store.config.cold_path)
    if not store.fs.exists(meta_path):
        # Watermark captured BEFORE the recompute scans, deliberately:
        # a write landing mid-refresh either misses this refresh
        # entirely or is partially seen, and in both cases its
        # ingest_ts (or the boundary-row count at the captured max)
        # ensures the next refresh re-touches its bucket —
        # at-least-once recompute, idempotent by construction.
        members, last = _new_members(store, cold, None)
        new_watermark = -1 if last is None else int(last)
        stats = _bucket_stats(members, None, step)
        tags = sorted(set(stats["tag"].to_pylist()))
        n_buckets, present = _rewrite(
            store, data_path, cold, stats, tags, step, with_sketch, carry=False
        )
        _write_meta(
            store, meta_path,
            step=step,
            watermark_ingest_ts=new_watermark,
            boundary_rows=(
                _distinct_at(members, new_watermark) if new_watermark >= 0 else 0
            ),
            partial=None,
            with_sketch=with_sketch,
        )
        return RollupMetrics(n_buckets, len(present), new_watermark)

    meta = _load_meta(store, meta_path, name)
    if meta["step"] != step:
        raise ValidationError(
            f"rollup {name!r} was created with step={meta['step']}, "
            f"refresh requested step={step}"
        )
    stored_sketch = bool(meta.get("with_sketch", False))
    if stored_sketch != with_sketch:
        raise ValidationError(
            f"rollup {name!r} was created with "
            f"with_sketch={stored_sketch}, refresh requested "
            f"with_sketch={with_sketch}"
        )
    w = int(meta["watermark_ingest_ts"])
    boundary = meta.get("boundary_rows")
    partial = meta.get("partial")
    members, last = _new_members(store, cold, w)

    if partial is None:
        # The members at/past the recorded watermark give the new one
        # and the distinct member count AT the recorded one (the
        # tie-race check). Nothing at/past it means "hold at w, never
        # regress".
        cnt_at_w = _distinct_at(members, w)
        upper = w if last is None else int(last)
        # ADVICE r8: a boundary write that tied the recorded watermark
        # mid-refresh widens the probe to >= once; idempotent recompute
        # makes the re-touch harmless.
        include_eq = boundary is None or cnt_at_w != int(boundary)
        bound = None
        cursor = None
        known_upper_boundary = cnt_at_w if upper == w else None
    else:
        # Backlog continuation: the interval up to ``upper`` was
        # captured by an earlier capped run; rows inside it are
        # immutable under the monotone-ingest_ts contract, so no
        # boundary re-check is needed and the cursor is stable.
        # ADVICE r9: the capped run that created this partial may have
        # probed >= w (a boundary tie widened it) — if more than
        # max_tags tags had their oldest new work tied exactly at w, a
        # strictly-greater continuation would exclude the unselected
        # tied tags' boundary rows from every continuation, and the
        # drain would advance the watermark past them unaggregated. The
        # recorded include_eq flag replays the capped run's own lower
        # bound; the (min_ingest, tag) cursor already skips processed
        # tags, so re-including the boundary is safe and idempotent.
        upper = int(partial["upper"])
        known_upper_boundary = int(partial["boundary_rows"])
        include_eq = bool(partial.get("include_eq", False))
        bound = upper
        cursor = partial["cursor"]  # [min_new_ingest, tag]

    # The probe rows (ingest_ts past w, or at/past it with include_eq,
    # and at most ``bound`` in a continuation) at (tag, bucket)
    # granularity, with the oldest-new-work ordering key.
    ingest = ds.field("ingest_ts")
    cond = ingest >= w if include_eq else ingest > w
    if bound is not None:
        cond = cond & (ingest <= bound)
    stats = _bucket_stats(members, cond, step)
    upper_boundary = (
        _distinct_at(members, upper)
        if known_upper_boundary is None else known_upper_boundary
    )

    # Oldest-new-work-first tag selection, bounded to max_tags (+1 to
    # detect overflow), as ``(tag, min new ingest_ts, touched
    # buckets)``. Driver state = this list — the cap's point.
    selected = _select(stats, cursor, max_tags + 1)

    if not selected:
        if partial is not None:
            # backlog drained: the interval is fully processed — NOW
            # the watermark may advance to its upper edge.
            _write_meta(
                store, meta_path,
                step=step, watermark_ingest_ts=upper,
                boundary_rows=upper_boundary, partial=None,
                with_sketch=stored_sketch,
            )
            return RollupMetrics(0, 0, upper)
        return RollupMetrics(0, 0, w)

    capped = len(selected) > max_tags
    selected = selected[:max_tags]
    n_touched = sum(nb for _, _, nb in selected)
    _rewrite(
        store, data_path, cold, stats, [tag for tag, _, _ in selected], step,
        with_sketch, carry=True,
    )

    if capped:
        last_tag, last_mi, _ = selected[-1]
        _write_meta(
            store, meta_path,
            step=step, watermark_ingest_ts=w, boundary_rows=boundary,
            partial={
                "upper": upper,
                "boundary_rows": upper_boundary,
                "cursor": [int(last_mi), last_tag],
                # lower-bound replay for continuations (see the
                # backlog branch): a capped run that probed >= w must
                # keep probing >= w until the interval drains
                "include_eq": bool(include_eq),
            },
            with_sketch=stored_sketch,
        )
        return RollupMetrics(n_touched, len(selected), w, backlog=True)

    _write_meta(
        store, meta_path,
        step=step, watermark_ingest_ts=upper,
        boundary_rows=upper_boundary, partial=None,
        with_sketch=stored_sketch,
    )
    return RollupMetrics(n_touched, len(selected), upper)


# ---------------------------------------------------------- the probe
def _new_members(store: TimeseriesStore, cold, w: int | None):
    """``(members, last)``: the raw members (hot ∪ cold, duplicates
    kept) with ``ingest_ts`` at or past ``w`` — every member when
    None — as a pyarrow dataset, and their largest ``ingest_ts`` (None
    when there is none). The hot files and the plain cold files
    ``cold`` are kept by their footer max (``DriverFiles.since``);
    when ``cold`` is None the seam reads the new cold rows
    (``_seam_cold``), its ``ingest_ts`` stats skipping every older
    snapshot file. Callers filter the rows themselves: a kept file
    may also hold older ones."""
    files, last = store._list_files(None, cold=cold or []).since(w)
    members = member_dataset(files.paths, files.partitions)
    if cold is None:
        rows = _seam_cold(
            store,
            None if w is None else {"ingest_ts": (w, None)},
            None if w is None else F.col("ingest_ts") >= w,
        )
        top = pc.max(rows["ingest_ts"]).as_py()
        if top is not None:
            last = top if last is None else max(last, top)
        members = ds.dataset([members, ds.dataset(rows)])
    return members, last


def _seam_cold(store: TimeseriesStore, predicates, where=None):
    """The cold members that pass ``where``, read through the backend's
    own reader (``store.cold``, ``predicates`` its file skipping) in
    one Spark job, as an Arrow table of the member columns."""
    df = store.cold(predicates=predicates)
    if where is not None:
        df = df.where(where)
    return df.toArrow().cast(_MEMBER_ARROW)


def _bucket_stats(members, cond, step: int):
    """``(tag, bucket_start, _mi)``: the least ``ingest_ts`` of each
    (tag, bucket) over the rows of the dataset ``members`` that pass
    ``cond`` (every row when None). Only ``tag``, ``ts`` and
    ``ingest_ts`` are read, a record batch at a time, and only the
    stats are kept, so the probe's memory is the touched set's."""
    keys = ["tag", "bucket_start"]
    stats = pa.schema([("tag", pa.string()), ("bucket_start", pa.int64()), ("_mi", pa.int64())])
    stats = stats.empty_table()
    for batch in members.to_batches(columns=["tag", "ts", "ingest_ts"], filter=cond):
        if batch.num_rows:
            part = pa.table(
                {"tag": batch["tag"], "bucket_start": _buckets(batch["ts"], step),
                 "_mi": batch["ingest_ts"]}
            )
            stats = (
                pa.concat_tables([stats, part]).group_by(keys).aggregate([("_mi", "min")])
                .select([*keys, "_mi_min"]).rename_columns([*keys, "_mi"])
            )
    return stats


def _distinct_at(members, at: int) -> int:
    """How many distinct members (``MEMBER_IDENTITY_COLS``, NULL values
    equal) of the dataset ``members`` have ``ingest_ts == at``: the
    watermark's tie-break guard. A write landing mid-refresh with
    ``ingest_ts`` EQUAL to the captured max (caller-supplied or
    ms-resolution timestamps tie) would be invisible to a
    strictly-greater probe forever; recording how many members sit at
    the boundary lets the next refresh detect a changed boundary and
    re-probe ``>=``. Identity-distinct, so a member snapshotted to cold
    but not yet acked out of hot counts once. Only the identity
    columns of the rows at ``at`` are read."""
    rows = members.to_table(columns=MEMBER_IDENTITY_COLS, filter=ds.field("ingest_ts") == at)
    return rows.group_by(MEMBER_IDENTITY_COLS).aggregate([]).num_rows


def _select(stats, cursor, limit: int) -> list[tuple]:
    """``(tag, least new ingest_ts, touched buckets)`` of the first
    ``limit`` tags of ``stats`` past the backlog ``cursor``, oldest new
    work first."""
    per_tag = stats.group_by("tag").aggregate([("_mi", "min"), ("_mi", "count")])
    rows = sorted(
        zip(
            per_tag["_mi_min"].to_pylist(),
            per_tag["tag"].to_pylist(),
            per_tag["_mi_count"].to_pylist(),
        )
    )
    if cursor is not None:
        rows = [r for r in rows if r[:2] > (int(cursor[0]), cursor[1])]
    return [(tag, mi, nb) for mi, tag, nb in rows[:limit]]


# ------------------------------------------------------ the recompute
def _rewrite(
    store: TimeseriesStore, data_path: str, cold, stats, tags: list[str],
    step: int, with_sketch: bool, carry: bool,
) -> tuple[int, set]:
    """Recompute the buckets of ``stats`` that belong to ``tags``, in
    batches of tags (``_batches``), and publish the tags' new content;
    ``(rows written, tags with rows)``. With ``carry`` each tag keeps
    its untouched old buckets and a tag left with none is dropped;
    without, the rows replace whatever the tags held (a creation).
    Each batch stages its tags' rows in a hidden directory
    (``_stage``); ``_publish`` runs after the last, and any error
    before it removes the staged files and changes nothing."""
    touched = stats.filter(
        pc.is_in(stats["tag"], value_set=pa.array(tags, pa.string()))
    ).select(["tag", "bucket_start"])
    by_tag: dict[str, list[int]] = {}
    for tag, b in zip(touched["tag"].to_pylist(), touched["bucket_start"].to_pylist()):
        by_tag.setdefault(tag, []).append(b)
    for bs in by_tag.values():
        bs.sort()
    width = store.config.partition_width

    def overlaps(tag: str, part_start: int) -> bool:
        # a touched bucket [b, b + step) meets [part_start, +width)
        bs = by_tag[tag]
        i = bisect.bisect_right(bs, part_start - step)
        return i < len(bs) and bs[i] < part_start + width

    sources = store._list_files(PartitionFilter(frozenset(tags), overlaps), cold=cold or [])
    old = _rollup_files(store, data_path, tags)
    staging = f"{data_path.rsplit('/', 1)[0]}/.refresh.inprogress"
    store.fs.remove_tree(staging)  # a crashed refresh's staged files
    staged, n_rows = {}, 0
    try:
        for batch in _batches(tags, sources, old):
            rows = _recompute(store, sources, cold, batch, touched, step, with_sketch)
            if carry:
                carried = _old_rows(store, data_path, batch, old, with_sketch).join(
                    touched, keys=["tag", "bucket_start"], join_type="left anti"
                )
                rows = pa.concat_tables([carried.select(rows.column_names), rows])
            n_rows += rows.num_rows
            staged.update(_stage(store, staging, rows))
        drop = [tag for tag in tags if tag not in staged] if carry else []
        _publish(store, data_path, staging, staged, drop, old, with_sketch)
    finally:
        store.fs.remove_tree(staging)
    return n_rows, set(staged)


def _batches(tags: list[str], sources, old) -> list[list[str]]:
    """``tags``, in order, in batches whose listed partition files
    (``sources``) and old rollup files (``old``) total at most
    ``MAX_DRIVER_READ_BYTES`` (``size_batches``: a tag over the cap is
    a batch of its own). The L0 segments, which every batch reads
    filtered by tag, and the files a backend reads through its seam
    count toward no batch."""
    sizes = dict.fromkeys(tags, 0)
    for key, size in zip(sources.partitions, _file_sizes(sources.paths)):
        if key is not None:
            sizes[key[0]] += size
    for tag, paths in (old or {}).items():
        sizes[tag] += sum(_file_sizes(paths))
    return size_batches(sizes)


def _recompute(store: TimeseriesStore, sources, cold, batch, touched, step: int, with_sketch: bool):
    """The kernel: the rollup rows of the buckets ``touched`` (``tag``,
    ``bucket_start``) of the tags ``batch``. Their raw members are read
    with pyarrow from their files in ``sources`` and the L0 segments,
    and, when ``cold`` is None, from the seam's read of their cold
    rows; their LWW winners (``lww_latest_arrow``: an exact duplicate
    from the at-least-once tier window picks the same winner) are
    aggregated by ``_aggregate_arrow``."""
    keep = [i for i, key in enumerate(sources.partitions) if key is None or key[0] in batch]
    members = DriverFiles(
        [sources.paths[i] for i in keep], [sources.partitions[i] for i in keep]
    ).read(ds.field("tag").isin(batch))
    if cold is None:
        cold_rows = _seam_cold(store, {"tag": set(batch)}, F.col("tag").isin(batch))
        members = pa.concat_tables([members, cold_rows])
    in_touched = members.append_column(
        "bucket_start", _buckets(members["ts"], step)
    ).join(touched, keys=["tag", "bucket_start"], join_type="left semi")
    return _aggregate_arrow(
        store.spark, lww_latest_arrow(in_touched.select(members.column_names)), step, with_sketch
    )


def _tag_files(store: TimeseriesStore, data_path: str, tags) -> dict | None:
    """The data files of each rollup tag directory among ``tags`` (every
    tag when None) that has any, as ``{tag: [path]}`` from one listing
    of the rollup table; None when the backend reads the table through
    its seam (``driver_table_files``)."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    paths = store.commit.driver_table_files(store, data_path)
    if paths is None:
        return None
    files: dict[str, list[str]] = {}
    for path in paths:
        tag = ManifestCommit._unescape_partition(path.rsplit("/", 2)[1].partition("=")[2])
        if tags is None or tag in tags:
            files.setdefault(tag, []).append(path)
    return files


def _rollup_files(store: TimeseriesStore, data_path: str, tags) -> dict | None:
    """``_tag_files`` for a refresh, which replaces each tag's one data
    file: a directory holding more than one raises
    ``ValidationError``, since no rename replaces two files."""
    files = _tag_files(store, data_path, set(tags))
    if files is None:
        return None
    for tag, found in files.items():
        if len(found) > 1:
            raise ValidationError(
                f"rollup directory {tag_dir(data_path, tag)!r} holds {len(found)} "
                "data files; a refresh replaces a tag's one file by one rename. "
                "Recompute the rollup: delete it and refresh from scratch."
            )
    return files


def _old_rows(store: TimeseriesStore, data_path: str, tags, old, with_sketch: bool):
    """The rollup rows of ``tags`` as they stand: pyarrow over their
    files ``old``, or, when ``old`` is None, the seam's read, pruned
    to the tags' files by their ``tag`` stats, in one Spark job."""
    if old is None:
        schema = _rollup_schema(with_sketch)
        return (
            store.commit.read_table_pruned(store, data_path, schema, predicates={"tag": set(tags)})
            .where(F.col("tag").isin(tags)).select(*schema.names).toArrow()
            .cast(_rollup_arrow(with_sketch))
        )
    return _rollup_dataset({tag: old.get(tag, []) for tag in tags}, with_sketch).to_table()


def _rollup_dataset(files: dict, with_sketch: bool):
    """The rollup files ``files`` (``{tag: [path]}``) as a pyarrow
    dataset of ``_rollup_schema(with_sketch)``'s columns, each file's
    ``tag`` taken from its key."""
    pairs = [(tag, path) for tag, paths in files.items() for path in paths]
    return ds.FileSystemDataset.from_paths(
        [path for _, path in pairs], schema=_rollup_arrow(with_sketch),
        format=ds.ParquetFileFormat(), filesystem=pafs.LocalFileSystem(),
        partitions=[ds.field("tag") == tag for tag, _ in pairs],
    )


def _stage(store: TimeseriesStore, staging: str, rows) -> dict[str, str]:
    """Write each tag's rows of the Arrow rollup rows ``rows``, sorted
    by bucket, as one Parquet file in its ``tag=`` directory under
    ``staging``; ``{tag: path}``."""
    rows = rows.sort_by([("tag", "ascending"), ("bucket_start", "ascending")])
    out, offset = {}, 0
    for tag, run in itertools.groupby(rows["tag"].to_pylist()):
        n = sum(1 for _ in run)
        part_dir = tag_dir(staging, tag)
        store.fs.makedirs(part_dir)
        out[tag] = f"{part_dir}/part-{uuid.uuid4().hex}.snappy.parquet"
        _driver_parquet_file(rows.slice(offset, n).select(rows.column_names[1:]), out[tag])
        offset += n
    return out


def _publish(
    store: TimeseriesStore, data_path: str, staging: str, staged: dict,
    drop: list[str], old, with_sketch: bool,
) -> None:
    """Drop the ``drop`` tags' rollup directories, then make each
    staged file its tag's content: on a plain-directory backend
    (``old``, the tags' current files, is not None) by one rename, over
    the tag's one file or as the first file of a new directory;
    otherwise by one ``overwrite_partitions`` over the staging
    directory, which replaces only the tags it holds."""
    for tag in drop:
        store.commit.drop_partition_dir(store, tag_dir(data_path, tag))
    if old is None:
        if staged:
            df = store.spark.read.schema(_rollup_schema(with_sketch)).parquet(staging)
            store.commit.overwrite_partitions(store, df, data_path, ["tag"])
        return
    for tag, path in staged.items():
        if tag in old:
            dest = old[tag][0]
            head, name = dest.rsplit("/", 1)
            # a reader would check the new bytes against the old
            # file's checksum sidecar; a file without one reads unchecked
            store.fs.remove_file(f"{head}/.{name}.crc")
        else:
            head = tag_dir(data_path, tag)
            store.fs.makedirs(head)
            dest = f"{head}/{path.rsplit('/', 1)[1]}"
        store.fs.rename(path, dest)


# ---------------------------------------------------------- the kernel
def _buckets(ts, step: int):
    """``_bucket`` over an Arrow column of ``ts``: floor to ``step``."""
    import numpy as np

    ts = ts.to_numpy()
    return pa.array(ts - np.mod(ts, step), pa.int64())


def _spark_select(spark, table, *columns) -> list:
    """The rows of ``select(*columns)`` over the Arrow ``table``,
    computed by Spark's own expressions on the driver: the projection
    of a local relation is folded into the relation while the plan is
    optimized, so its ``collect()`` starts no job."""
    return spark.createDataFrame(table).select(*columns).collect()


def _aggregate_arrow(spark, winners, step: int, with_sketch: bool = False):
    """``_aggregate`` over the Arrow table of LWW winners ``winners``:
    ``ROLLUP_SCHEMA`` rows (``_rollup_arrow``). The value → number
    casts, once per distinct value, and the final decimal → double
    cast are Spark's own (``_spark_select``); the grouping, counts,
    exact decimal sums, min and max run in pyarrow. Spark orders NaN
    above every number, so a bucket holding a NaN has ``max_num`` NaN,
    and ``min_num`` NaN only when it holds no other number.
    ``with_sketch`` adds ``distinct_sketch``, an HLL blob per bucket:
    Spark's ``hll_sketch_agg`` over the live winners as a local
    relation, one job. Sketches are MERGEABLE across buckets, for
    rollup-over-rollup consumers (``hll_union_agg`` over day buckets
    gives a month's distinct estimate without touching base data)."""
    live = winners.filter(winners["value"].is_valid())
    values = live["value"].combine_chunks()
    buckets = _buckets(live["ts"], step)
    distinct = pc.unique(values)
    as_double = F.col("value").try_cast("double")
    # an ANSI overflow of the decimal cast raises here, as it does in
    # the Spark SQL aggregate
    cast = _spark_select(
        spark, pa.table({"value": distinct}),
        as_double.alias("num"), as_double.cast(SUM_DECIMAL).alias("dec"),
    ) if len(distinct) else []
    at = pc.index_in(values, value_set=distinct)
    num = pa.array([r.num for r in cast], pa.float64()).take(at)
    dec = pa.array([r.dec for r in cast], pa.decimal128(38, 10)).take(at)
    nan = pc.fill_null(pc.is_nan(num), False)
    g = pa.table({
        "tag": live["tag"],
        "bucket_start": buckets,
        "value": values,
        "num": num,
        "finite": pc.if_else(nan, pa.scalar(None, pa.float64()), num),
        "nan": nan,
        "dec": dec,
    }).group_by(["tag", "bucket_start"]).aggregate([
        ("value", "count"),
        ("num", "count"),
        ("dec", "sum"),
        ("finite", "min"),
        ("finite", "max"),
        ("nan", "any"),
        ("value", "count_distinct"),
    ])
    sums = _spark_select(
        spark, g.select(["dec_sum"]), F.col("dec_sum").cast("double").alias("d")
    ) if g.num_rows else []
    nan_value = pa.scalar(float("nan"))
    out = pa.table(
        {
            "tag": g["tag"],
            "bucket_start": g["bucket_start"],
            "n": g["value_count"],
            "n_numeric": g["num_count"],
            "sum_num": pa.array([r.d for r in sums], pa.float64()),
            "min_num": pc.if_else(
                pc.and_(g["nan_any"], pc.is_null(g["finite_min"])), nan_value, g["finite_min"]
            ),
            "max_num": pc.if_else(g["nan_any"], nan_value, g["finite_max"]),
            "n_distinct": g["value_count_distinct"],
        },
        schema=_ROLLUP_ARROW,
    )
    if not with_sketch:
        return out
    # one chunk: createDataFrame drops the record batches after an
    # empty one, which an expression filter can leave
    local = pa.table({"tag": live["tag"], "bucket_start": buckets, "value": values})
    sketches = (
        spark.createDataFrame(local.combine_chunks()).groupBy("tag", "bucket_start")
        .agg(F.hll_sketch_agg("value").alias("distinct_sketch")).toArrow()
    )
    schema = _rollup_arrow(True)
    return out.join(sketches, keys=["tag", "bucket_start"]).select(schema.names).cast(schema)


def read_rollup(
    store: TimeseriesStore,
    name: str,
    version: int | None = None,
    tags: list[str] | None = None,
    bucket_range: tuple | None = None,
) -> DataFrame:
    """The maintained rollup table (tag, bucket_start, n, n_numeric,
    sum_num, min_num, max_num, n_distinct[, distinct_sketch]).

    ``tags`` / ``bucket_range`` ((lo, hi) inclusive, either side None)
    are both a ROW filter and a manifest-stats file-skipping envelope:
    a dashboard asking for one tag's last day plans over that tag's
    partition files only (hive min==max tag stats make the membership
    prune exact), not the whole rollup — the serving-path payoff of
    the tag-partitioned layout. ``version`` time-travels to a retained
    manifest snapshot of the rollup data (debugging a bad refresh /
    auditing a maintenance run); the directory backend raises
    ``VersionNotFoundError`` (no history). The meta (step, sketch
    flag) is always the CURRENT one — the schema-shaping fields are
    immutable after creation (step/sketch mismatches raise on
    refresh), so a historical snapshot reads under the same schema.

    A current read whose files the backend lists
    (``driver_table_files``) and that total at most
    ``MAX_DRIVER_READ_BYTES`` runs on the driver: pyarrow reads the
    ``tags`` directories' files, filtered to ``bucket_range``, and the
    rows come back as a ``session.local_frame``: collecting it starts
    no Spark job. A ``version=`` read, a version-logged backend and a
    read over the cap return the Spark plan."""
    store._require_init()
    data_path, meta_path = _paths(store, name)
    if not store.fs.exists(meta_path):
        raise ValidationError(f"rollup {name!r} does not exist")
    meta = _load_meta(store, meta_path, name)
    predicates: dict = {}
    if tags is not None:
        predicates["tag"] = {str(t) for t in tags}
    if bucket_range is not None:
        lo, hi = bucket_range
        predicates["bucket_start"] = (
            None if lo is None else int(lo),
            None if hi is None else int(hi),
        )
    with_sketch = bool(meta.get("with_sketch", False))
    schema = _rollup_schema(with_sketch)
    if version is None:
        files = _tag_files(store, data_path, predicates.get("tag"))
        if files is not None and driver_read_bytes(
            [path for paths in files.values() for path in paths]
        ) is not None:
            lo, hi = predicates.get("bucket_start", (None, None))
            keep = ds.scalar(True)
            if lo is not None:
                keep &= ds.field("bucket_start") >= lo
            if hi is not None:
                keep &= ds.field("bucket_start") <= hi
            rows = _rollup_dataset(files, with_sketch).to_table(filter=keep)
            return local_frame(store.spark, rows, schema)
    df = store.commit.read_table_pruned(
        store,
        data_path,
        schema,
        predicates=predicates or None,
        version=version,
    ).select(*schema.names)
    # pruning is a superset guard; the row filter is mandatory
    if tags is not None:
        df = df.where(F.col("tag").isin([str(t) for t in tags]))
    if bucket_range is not None:
        lo, hi = bucket_range
        if lo is not None:
            df = df.where(F.col("bucket_start") >= int(lo))
        if hi is not None:
            df = df.where(F.col("bucket_start") <= int(hi))
    return df
