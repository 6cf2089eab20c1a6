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

100 TB shape: the new-member probe is one narrow (tag, ts, ingest_ts)
scan with the watermark predicate pushed down; the recompute reads
ONLY touched buckets via a broadcast semi-join on the (small) touched
set; the rollup table is partitioned by tag and rewritten via the
store's TableCommit seam (dynamic partition overwrite on touched tags
— on Delta/Iceberg, a MERGE). Numeric sums accumulate in DECIMAL and
surface as DOUBLE, so an incremental refresh is bit-identical to a
full recompute regardless of aggregation order.

Small refreshes run on the driver, under ``read_range``'s rule: the
probe reads only the hot and cold files whose footer
``max(ingest_ts)`` is at or past the watermark, the recompute only the
partitions that overlap a touched bucket, and each set must total at
most ``MAX_DRIVER_READ_BYTES``; both are read with pyarrow
(``TimeseriesStore._driver_members``) and nothing starts a Spark job.
The value → number conversions are Spark's own casts, evaluated on the
driver over a local relation, so both paths give the same rows. Each
touched tag's new content is published atomically, by one rename over
the tag directory's single file. A rollup on a version-logged backend
(``driver_table_files`` is None), one with HLL sketches, or inputs
over the cap take the Spark path; the choice is made before anything
is written, and the protocol (watermark, boundary count, backlog
cursor, meta) is written once for both.

All refreshes run under the namespace maintenance lease, like every
other mutation job (``tiering.py``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F, types as T

from redis_lsm_timeseries_spark.commit import _driver_arrow_schema
from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.lww import lww_latest
from redis_lsm_timeseries_spark.schema import MEMBER_IDENTITY_COLS
from redis_lsm_timeseries_spark.store import (
    PartitionFilter,
    TimeseriesStore,
    driver_read_bytes,
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

#: ``ROLLUP_SCHEMA`` as the driver-side refresh reads and writes it
_ROLLUP_ARROW = _driver_arrow_schema(ROLLUP_SCHEMA)


def _rollup_schema(with_sketch: bool) -> T.StructType:
    if not with_sketch:
        return ROLLUP_SCHEMA
    return T.StructType(
        [*ROLLUP_SCHEMA.fields, T.StructField("distinct_sketch", T.BinaryType())]
    )


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


def _raw_members(
    store: TimeseriesStore, ingest_floor: int | None = None
) -> DataFrame:
    """hot ∪ cold WITHOUT the identity dedup: the at-least-once
    duplicate window (same member snapshotted to cold but not yet
    acked out of hot) is still present. Use for aggregates that are
    INVARIANT under exact duplicates — max(ingest_ts), DISTINCT
    (tag, bucket) — where paying the full-corpus dedup shuffle would
    be pure waste.

    ``ingest_floor`` (inclusive) enables manifest-stats file skipping
    on the COLD member: the refresh's new-work probe only cares about
    rows with ``ingest_ts`` at/past the watermark, and on a manifest
    backend the cold tier's per-file ``ingest_ts`` stats prune every
    snapshot file wholly below it at PLAN time — which at 100 TB is
    nearly all of them, since eviction moves OLD data cold while new
    work lands hot. Superset guard only: the caller's real
    ``ingest_ts`` row filter stays mandatory."""
    cold = store.cold(
        predicates=(
            {"ingest_ts": (int(ingest_floor), None)}
            if ingest_floor is not None
            else None
        )
    )
    return store.hot().unionByName(cold)


def _members(store: TimeseriesStore) -> DataFrame:
    """The logical member view: hot ∪ cold, exact duplicates dropped
    by identity — the same base relation
    ``read_range(include_cold=True)`` merges."""
    return _raw_members(store).dropDuplicates(MEMBER_IDENTITY_COLS)


def _bucket(step: int):
    return (F.col("ts") - F.pmod(F.col("ts"), F.lit(int(step)))).cast("long")


def _aggregate(
    winners: DataFrame, step: int, with_sketch: bool = False
) -> DataFrame:
    """Per-(tag, bucket) aggregate over LWW winners (tombstones —
    NULL-value winners — excluded, mirroring the read path). Values
    are opaque strings; numeric stats cover the castable subset.

    ``n_distinct`` is the distinct-members shape (TimescaleDB's
    distinct-users continuous aggregate): every touched bucket is
    recomputed FROM THE BASE SLICE, so count-distinct needs no
    mergeable state — incremental == full by construction, the same
    discipline as every other column. ``with_sketch`` adds a
    ``distinct_sketch`` HLL blob (``hll_sketch_agg``) per bucket:
    MERGEABLE across buckets, for rollup-over-rollup consumers
    (``hll_union_agg`` over day buckets gives a month's distinct
    estimate without touching base data)."""
    # try_cast, not cast: values are OPAQUE strings (reference
    # semantics) and ANSI mode makes a plain cast throw on the first
    # non-numeric one; the numeric stats cover the castable subset
    num = F.col("value").try_cast("double")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("_num").cast("long").alias("n_numeric"),
        F.sum(F.col("_num").cast(SUM_DECIMAL))
        .cast("double")
        .alias("sum_num"),
        F.min("_num").alias("min_num"),
        F.max("_num").alias("max_num"),
        F.countDistinct("value").cast("long").alias("n_distinct"),
    ]
    if with_sketch:
        aggs.append(F.hll_sketch_agg("value").alias("distinct_sketch"))
    return (
        winners.where(F.col("value").isNotNull())
        .select(
            "tag",
            _bucket(step).alias("bucket_start"),
            F.col("value"),
            num.alias("_num"),
        )
        .groupBy("tag", "bucket_start")
        .agg(*aggs)
    )


def rollup_full(
    store: TimeseriesStore, step: int, with_sketch: bool = False
) -> DataFrame:
    """The full recompute — the semantic definition the incremental
    path must equal (and the test oracle for it)."""
    return _aggregate(lww_latest(_members(store)), step, with_sketch)


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

    Where the refresh runs (see the module docstring): on the driver
    with pyarrow, starting no Spark job, when the rollup has no
    sketches, its backend keeps plain files and the files the refresh
    reads pass ``read_range``'s rule; otherwise as Spark jobs. Both give
    the same rows, metrics and meta."""
    if step <= 0:
        raise ValidationError("step must be positive")
    if max_tags < 1:
        raise ValidationError("max_tags must be >= 1")
    store._require_init()
    with maintenance_lease(store):
        return _refresh_locked(
            store, name, int(step), int(max_tags), bool(with_sketch)
        )


def _boundary_rows(raw: DataFrame, w: int) -> int:
    """Distinct member count exactly AT the watermark — the tie-break
    guard: a write landing mid-refresh with ``ingest_ts`` EQUAL to the
    captured max (caller-supplied or ms-resolution timestamps tie)
    would be invisible to a strictly-greater probe forever. Recording
    how many members sit at the boundary lets the next refresh detect
    a changed boundary and re-probe ``>=`` — the re-touch recompute is
    idempotent, so over-inclusion is harmless and under-inclusion
    cannot happen. Identity-distinct so a member snapshotted to cold
    but not yet acked out of hot (the at-least-once tier window)
    counts once."""
    return (
        raw.where(F.col("ingest_ts") == int(w))
        .select(*MEMBER_IDENTITY_COLS)
        .distinct()
        .count()
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


class _NeedsSpark(Exception):
    """A driver-side refresh step met work that needs Spark. Raised
    only while the refresh reads, before it writes anything."""


def _refresh_locked(
    store: TimeseriesStore,
    name: str,
    step: int,
    max_tags: int,
    with_sketch: bool,
) -> RollupMetrics:
    data_path, meta_path = _paths(store, name)
    if not with_sketch:
        try:
            return _refresh(
                _DriverSteps(store, data_path, step),
                store, name, meta_path, step, max_tags, with_sketch,
            )
        except _NeedsSpark:
            pass  # nothing was written: the whole refresh runs on Spark
    return _refresh(
        _SparkSteps(store, data_path, step, with_sketch),
        store, name, meta_path, step, max_tags, with_sketch,
    )


def _refresh(
    steps, store, name: str, meta_path: str, step: int, max_tags: int,
    with_sketch: bool,
) -> RollupMetrics:
    """The refresh protocol, over the data steps of ``steps``
    (``_SparkSteps`` or ``_DriverSteps``)."""
    if not store.fs.exists(meta_path):
        # Watermark captured BEFORE the recompute scans, deliberately:
        # a write landing mid-refresh either misses this refresh
        # entirely or is partially seen, and in both cases its
        # ingest_ts (or the boundary-row count at the captured max)
        # ensures the next refresh re-touches its bucket —
        # at-least-once recompute, idempotent by construction.
        new_watermark = steps.watermark()
        full, n_buckets, n_tags = steps.full()
        steps.publish(full, drop=[])
        _write_meta(
            store, meta_path,
            step=step,
            watermark_ingest_ts=new_watermark,
            boundary_rows=(
                steps.boundary_rows(new_watermark) if new_watermark >= 0 else 0
            ),
            partial=None,
            with_sketch=with_sketch,
        )
        return RollupMetrics(n_buckets, n_tags, new_watermark)

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

    if partial is None:
        # ONE narrow probe finds the new watermark and the distinct
        # member count AT the recorded one (the tie-race check). It
        # sees every row >= w, so an empty max means "nothing at/past
        # the watermark" — hold at w, never regress.
        w_new, cnt_at_w = steps.probe(w)
        upper = w if w_new is None else w_new
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
    # granularity: the oldest-new-work ordering key and, when still
    # unknown, the distinct member count at ``upper``.
    stats = steps.bucket_stats(
        w, include_eq, bound, upper if known_upper_boundary is None else None
    )
    upper_boundary = (
        steps.upper_boundary(stats)
        if known_upper_boundary is None else known_upper_boundary
    )

    # Oldest-new-work-first tag selection, bounded to max_tags (+1 to
    # detect overflow), as ``(tag, min new ingest_ts, touched
    # buckets)``. Driver state = this list — the cap's point.
    selected = steps.select(stats, cursor, max_tags + 1)

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
    tags = [tag for tag, _, _ in selected]
    n_touched = sum(nb for _, _, nb in selected)
    # Touched tags' new content: untouched old buckets + recomputed
    # buckets (a touched bucket whose members became all-tombstone
    # simply has no recomputed row — the deletion case); a touched tag
    # whose every bucket emptied (fully tombstoned) has none at all,
    # and its rollup partition is dropped.
    merged, present = steps.merge(stats, tags)
    steps.publish(merged, drop=[t for t in tags if t not in present])

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


class _Steps:
    """What both kinds of data steps share: the members at/past the
    refresh's one watermark, read once (``_read_since``) and reused by
    every step after it."""

    _since = None

    def since(self, w: int):
        if self._since is None:
            self._since = (w, self._read_since(w))
        assert self._since[0] == w, "a refresh reads past one watermark"
        return self._since[1]


class _SparkSteps(_Steps):
    """The refresh's data steps as Spark jobs. Duplicate-invariant
    probes run on the RAW hot ∪ cold union — no full-corpus
    identity-dedup shuffle for a watermark max or a distinct touched
    set; only the (touched-bucket-bounded) recompute slice pays the
    dedup, after the semi-join has shrunk it."""

    def __init__(self, store, data_path: str, step: int, with_sketch: bool):
        self.store, self.data_path = store, data_path
        self.step, self.with_sketch = step, with_sketch
        self._raw = None

    def raw(self) -> DataFrame:
        if self._raw is None:
            self._raw = _raw_members(self.store)
        return self._raw

    def _read_since(self, w: int) -> DataFrame:
        """The raw union planned over the stats-pruned cold tier: every
        scan after the watermark is known only needs rows with
        ``ingest_ts`` at/past it, so wholly-older cold snapshot files
        never enter the scan."""
        return _raw_members(self.store, ingest_floor=w)

    def watermark(self) -> int:
        w = self.raw().agg(F.max("ingest_ts").alias("w")).first().w
        return -1 if w is None else int(w)

    def full(self):
        full = (
            rollup_full(self.store, self.step, self.with_sketch)
            .repartition("tag")
            # lazy: the counts aggregate below is the materializing
            # action (r18, guide §1.2); the overwrite still writes
            # from the checkpointed rows
            .localCheckpoint(eager=False)
        )
        # one fused pass over the checkpointed rollup for both counts
        head = full.agg(
            F.count(F.lit(1)).alias("b"),
            F.countDistinct("tag").alias("t"),
        ).first()
        return (full, head.b > 0), int(head.b), int(head.t)

    def boundary_rows(self, w: int) -> int:
        return _boundary_rows(self.since(w), w)

    def probe(self, w: int):
        # countDistinct over a when() counts only boundary rows
        head = self.since(w).agg(
            F.max("ingest_ts").alias("w_new"),
            F.countDistinct(
                F.when(
                    F.col("ingest_ts") == int(w),
                    F.struct(*MEMBER_IDENTITY_COLS),
                )
            ).alias("cnt_at_w"),
        ).first()
        return (
            None if head.w_new is None else int(head.w_new)
        ), int(head.cnt_at_w)

    def bucket_stats(self, w, include_eq, bound, count_at):
        cond = F.col("ingest_ts") >= w if include_eq else F.col("ingest_ts") > w
        if bound is not None:
            cond = cond & (F.col("ingest_ts") <= bound)
        aggs = [F.min("ingest_ts").alias("_mi")]
        if count_at is not None:
            aggs.append(
                F.countDistinct(
                    F.when(
                        F.col("ingest_ts") == int(count_at),
                        F.struct(*MEMBER_IDENTITY_COLS),
                    )
                ).alias("_cb")
            )
        # The materialized frame is touched-set-sized, so the tag
        # rollup, the boundary sum, and the selection are trivial
        # re-reads of the checkpoint, not re-scans of the corpus.
        return (
            self.since(w).where(cond)
            .groupBy("tag", _bucket(self.step).alias("bucket_start"))
            .agg(*aggs)
            # lazy: the first consumer (the boundary sum, else the
            # tag selection) materializes it — one probe job total
            .localCheckpoint(eager=False)
        )

    def upper_boundary(self, stats) -> int:
        # members are tag-scoped, so the global distinct-at-upper is
        # the sum of the per-bucket counts
        return int(stats.agg(F.sum("_cb").alias("s")).first().s or 0)

    def select(self, stats, cursor, limit: int) -> list[tuple]:
        # `_nb` rides the same aggregate so the touched-bucket metric is
        # summed driver-side from these collected rows instead of a
        # separate count() job over the touched set (r17, guide §1.2:
        # fewer actions on a tiny-job-dominated path).
        tag_stats = stats.groupBy("tag").agg(
            F.min("_mi").alias("_mi"),
            F.count(F.lit(1)).alias("_nb"),
        )
        if cursor is not None:
            c_mi, c_tag = int(cursor[0]), cursor[1]
            tag_stats = tag_stats.where(
                (F.col("_mi") > c_mi)
                | ((F.col("_mi") == c_mi) & (F.col("tag") > c_tag))
            )
        rows = tag_stats.orderBy("_mi", "tag").limit(limit).collect()
        return [(r.tag, int(r._mi), int(r._nb)) for r in rows]

    def merge(self, stats, tags: list[str]):
        store = self.store
        sel_df = store.spark.createDataFrame([(t,) for t in tags], "tag string")
        touched = stats.join(
            F.broadcast(sel_df), ["tag"], "left_semi"
        ).select("tag", "bucket_start")
        # Recompute ONLY touched buckets: raw members semi-joined on the
        # (small) touched set FIRST, identity-deduped on the shrunken
        # slice, LWW per key, re-aggregated.
        in_touched = (
            self.raw().withColumn("bucket_start", _bucket(self.step))
            .join(F.broadcast(touched), ["tag", "bucket_start"], "left_semi")
            .dropDuplicates(MEMBER_IDENTITY_COLS)
        )
        recomputed = _aggregate(lww_latest(in_touched), self.step, self.with_sketch)
        # Carried-bucket source: only the SELECTED tags' partitions
        # matter, and the tag set is the bounded driver-side list the
        # cap already collected — manifest stats prune every other
        # tag's files at PLAN time. On a 100 TB rollup store with
        # millions of tags, the refresh reads max_tags partitions, not
        # the table; hive min==max tag stats make the membership prune
        # exact (directory backends read the full table and the
        # semi-join carries the semantics unchanged). Every selected
        # tag owns >= 1 touched bucket by construction, so the touched
        # tag set IS sel_df.
        old = store.commit.read_table_pruned(
            store,
            self.data_path,
            _rollup_schema(self.with_sketch),
            predicates={"tag": set(tags)},
        )
        carried = (
            old.join(F.broadcast(sel_df), ["tag"], "left_semi")
            .join(F.broadcast(touched), ["tag", "bucket_start"], "left_anti")
        )
        merged = (
            carried.unionByName(recomputed)
            .repartition("tag")
            # materialize before overwriting its source — lazily: the
            # present-tags collect below is the materializing action
            .localCheckpoint(eager=False)
        )
        present = {r.tag for r in merged.select("tag").distinct().collect()}
        return (merged, bool(present)), present

    def publish(self, content, drop: list[str]) -> None:
        """Drop the ``drop`` tags' rollup partitions, then rewrite the
        tags in ``content`` by dynamic partition overwrite, which only
        replaces the tag partitions present in it."""
        df, nonempty = content
        for tag in drop:
            self.store.commit.drop_partition_dir(self.store, tag_dir(self.data_path, tag))
        if nonempty:
            self.store.commit.overwrite_partitions(self.store, df, self.data_path, ["tag"])


class _DriverSteps(_Steps):
    """The refresh's data steps computed on the driver with pyarrow,
    starting no Spark job. Every read goes through the store's member
    reader over hot ∪ cold (``TimeseriesStore._driver_members``) and
    raises ``_NeedsSpark`` when it hands the work to Spark; so do a
    backend without plain cold or rollup files and a rollup tag
    directory holding more than one file, which one rename cannot
    replace. The refresh holds the maintenance lease, under which
    neither the cold tier nor the rollup table changes but by its own
    hand, so each is listed once."""

    def __init__(self, store, data_path: str, step: int):
        self.store, self.data_path, self.step = store, data_path, step
        self.members = self._cold = None

    def _read(self, partitions=None, filter=None, since=None):
        store = self.store
        if self._cold is None:
            self._cold = store.commit.driver_table_files(store, store.config.cold_path)
            if self._cold is None:
                raise _NeedsSpark
        got = store._driver_members(partitions, filter, cold=self._cold, since=since)
        if got is None:
            raise _NeedsSpark
        return got[1]

    def _read_since(self, w: int):
        """The raw members with ``ingest_ts`` at/past ``w``, read from
        the files whose footer says they may hold one."""
        import pyarrow.dataset as ds

        return self._read(filter=ds.field("ingest_ts") >= w, since=w)

    def watermark(self) -> int:
        import pyarrow.compute as pc

        # one snapshot serves the watermark, the full compute and the
        # boundary count
        self.members = self._read()
        w = pc.max(self.members["ingest_ts"]).as_py()
        return -1 if w is None else int(w)

    def full(self):
        from redis_lsm_timeseries_spark.operators.lww import lww_latest_arrow

        rows = _aggregate_arrow(self.store.spark, lww_latest_arrow(self.members), self.step)
        content = self._content(rows, self._tag_files(None))
        return content, rows.num_rows, len(content)

    def boundary_rows(self, w: int) -> int:
        return _distinct_members(self.members, w)

    def probe(self, w: int):
        import pyarrow.compute as pc

        new = self.since(w)
        w_new = pc.max(new["ingest_ts"]).as_py()
        return (None if w_new is None else int(w_new)), _distinct_members(new, w)

    def bucket_stats(self, w, include_eq, bound, count_at):
        """``(per-bucket stats, distinct members at count_at)``: the
        stats table holds ``tag``, ``bucket_start`` and ``_mi``."""
        import pyarrow.compute as pc

        new = self.since(w)
        ingest = new["ingest_ts"]
        cond = pc.greater_equal(ingest, w) if include_eq else pc.greater(ingest, w)
        if bound is not None:
            cond = pc.and_(cond, pc.less_equal(ingest, bound))
        probe = new.filter(cond)
        stats = (
            probe.append_column("bucket_start", _buckets(probe["ts"], self.step))
            .group_by(["tag", "bucket_start"])
            .aggregate([("ingest_ts", "min")])
        )
        stats = stats.select(["tag", "bucket_start", "ingest_ts_min"]).rename_columns(
            ["tag", "bucket_start", "_mi"]
        )
        at_upper = None if count_at is None else _distinct_members(probe, count_at)
        return stats, at_upper

    def upper_boundary(self, stats) -> int:
        return stats[1]

    def select(self, stats, cursor, limit: int) -> list[tuple]:
        per_tag = stats[0].group_by("tag").aggregate([("_mi", "min"), ("_mi", "count")])
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

    def merge(self, stats, tags: list[str]):
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyarrow import fs as pafs

        from redis_lsm_timeseries_spark.operators.lww import lww_latest_arrow

        buckets = stats[0]
        touched = buckets.filter(
            pc.is_in(buckets["tag"], value_set=pa.array(tags, pa.string()))
        ).select(["tag", "bucket_start"])
        by_tag: dict[str, list[int]] = {}
        for tag, b in zip(touched["tag"].to_pylist(), touched["bucket_start"].to_pylist()):
            by_tag.setdefault(tag, []).append(b)
        for bs in by_tag.values():
            bs.sort()
        step, width = self.step, self.store.config.partition_width

        def overlaps(tag: str, part_start: int) -> bool:
            # a touched bucket [b, b + step) meets [part_start, +width)
            bs = by_tag[tag]
            i = bisect.bisect_right(bs, part_start - step)
            return i < len(bs) and bs[i] < part_start + width

        members = self._read(
            PartitionFilter(frozenset(tags), overlaps), ds.field("tag").isin(tags)
        )
        in_touched = members.append_column(
            "bucket_start", _buckets(members["ts"], step)
        ).join(touched, keys=["tag", "bucket_start"], join_type="left semi")
        recomputed = _aggregate_arrow(
            self.store.spark,
            lww_latest_arrow(in_touched.select(members.column_names)),
            step,
        )
        files = self._tag_files(tags)
        paths = [p for ps in files.values() for p in ps]
        if driver_read_bytes(paths) is None:
            raise _NeedsSpark
        old = ds.FileSystemDataset.from_paths(
            paths, schema=_ROLLUP_ARROW, format=ds.ParquetFileFormat(),
            filesystem=pafs.LocalFileSystem(),
            partitions=[ds.field("tag") == t for t, ps in files.items() for _ in ps],
        ).to_table()
        carried = old.join(touched, keys=["tag", "bucket_start"], join_type="left anti")
        content = self._content(
            pa.concat_tables([carried.select(_ROLLUP_ARROW.names), recomputed]), files
        )
        return content, set(content)

    def _tag_files(self, tags) -> dict[str, list[str]]:
        """The data files of each rollup tag directory among ``tags``
        (every one when None), keyed by tag, from one listing of the
        rollup table."""
        from redis_lsm_timeseries_spark.commit import ManifestCommit

        paths = self.store.commit.driver_table_files(self.store, self.data_path)
        if paths is None:
            raise _NeedsSpark
        wanted = None if tags is None else set(tags)
        files: dict[str, list[str]] = {}
        for path in paths:
            tag_name = path.rsplit("/", 2)[1]
            tag = ManifestCommit._unescape_partition(tag_name.partition("=")[2])
            if wanted is None or tag in wanted:
                files.setdefault(tag, []).append(path)
        if any(len(paths) > 1 for paths in files.values()):
            raise _NeedsSpark
        return files

    def _content(self, rows, files) -> dict:
        """``{tag: (rows, the file they replace or None)}`` for the
        Arrow rollup rows ``rows``, each tag's rows sorted by bucket."""
        import itertools

        rows = rows.sort_by([("tag", "ascending"), ("bucket_start", "ascending")])
        content, offset = {}, 0
        for tag, run in itertools.groupby(rows["tag"].to_pylist()):
            n = sum(1 for _ in run)
            old = files.get(tag)
            content[tag] = (
                rows.slice(offset, n).select(_ROLLUP_ARROW.names[1:]),
                old[0] if old else None,
            )
            offset += n
        return content

    def publish(self, content, drop: list[str]) -> None:
        """Drop the ``drop`` tags' rollup partitions, then publish each
        tag's new content in one rename: over the tag directory's one
        file, or as the first file of a new directory."""
        from redis_lsm_timeseries_spark.commit import (
            _driver_parquet_append,
            _driver_parquet_replace,
        )

        store = self.store
        for tag in drop:
            store.commit.drop_partition_dir(store, tag_dir(self.data_path, tag))
        for tag, (rows, old) in content.items():
            if old is None:
                _driver_parquet_append(store.fs, rows, tag_dir(self.data_path, tag))
            else:
                _driver_parquet_replace(store.fs, rows, old)


def _buckets(ts, step: int):
    """``_bucket`` over an Arrow column of ``ts``: floor to ``step``."""
    import numpy as np
    import pyarrow as pa

    ts = ts.to_numpy()
    return pa.array(ts - np.mod(ts, step), pa.int64())


def _distinct_members(members, at: int) -> int:
    """How many distinct members (``MEMBER_IDENTITY_COLS``, NULL values
    equal) of the Arrow table ``members`` have ``ingest_ts == at``."""
    import pyarrow.compute as pc

    rows = members.filter(pc.equal(members["ingest_ts"], at))
    return rows.group_by(MEMBER_IDENTITY_COLS).aggregate([]).num_rows


def _spark_select(spark, table, *columns) -> list:
    """The rows of ``select(*columns)`` over the Arrow ``table``,
    computed by Spark's own expressions on the driver: the projection
    of a local relation is folded into the relation while the plan is
    optimized, so its ``collect()`` starts no job."""
    return spark.createDataFrame(table).select(*columns).collect()


def _aggregate_arrow(spark, winners, step: int):
    """``_aggregate`` (without the sketch) over the Arrow table of LWW
    winners ``winners``: ``ROLLUP_SCHEMA`` rows. The value → number
    casts, once per distinct value, and the final decimal → double
    cast are Spark's own (``_spark_select``); the grouping, counts,
    exact decimal sums, min and max run in pyarrow. Spark orders NaN
    above every number, so a bucket holding a NaN has ``max_num`` NaN,
    and ``min_num`` NaN only when it holds no other number."""
    import pyarrow as pa
    import pyarrow.compute as pc

    live = winners.filter(winners["value"].is_valid())
    values = live["value"].combine_chunks()
    distinct = pc.unique(values)
    as_double = F.col("value").try_cast("double")
    # an ANSI overflow of the decimal cast raises here, as it does in
    # the Spark path's aggregate
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
        "bucket_start": _buckets(live["ts"], step),
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
    return pa.table(
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
    refresh), so a historical snapshot reads under the same schema."""
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
    schema = _rollup_schema(bool(meta.get("with_sketch", False)))
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
