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

All refreshes run under the namespace maintenance lease, like every
other mutation job (``tiering.py``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.operators.lww import lww_latest
from redis_lsm_timeseries_spark.schema import MEMBER_IDENTITY_COLS
from redis_lsm_timeseries_spark.store import TimeseriesStore
from redis_lsm_timeseries_spark.tiering import maintenance_lease

META_NAME = "_rollup_meta.json"

#: exact, order-independent accumulation; cast to double on output
SUM_DECIMAL = "decimal(28,10)"


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
    captured maximum."""
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
    if w is None or int(w) < 0:
        return 0
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
    store.fs.write_text(
        meta_path, json.dumps({"format": ROLLUP_FORMAT, **fields})
    )


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
    data_path, meta_path = _paths(store, name)
    # Duplicate-invariant probes run on the RAW union — no full-corpus
    # identity-dedup shuffle for a watermark max or a distinct
    # touched-set; only the (touched-bucket-bounded) recompute slice
    # pays the dedup, after the semi-join has shrunk it.
    raw = _raw_members(store)

    if not store.fs.exists(meta_path):
        # Watermark captured BEFORE the recompute scans, deliberately:
        # a write landing mid-refresh either misses this refresh
        # entirely or is partially seen, and in both cases its
        # ingest_ts (or the boundary-row count at the captured max)
        # ensures the next refresh re-touches its bucket —
        # at-least-once recompute, idempotent by construction.
        new_watermark = raw.agg(F.max("ingest_ts").alias("w")).first().w
        new_watermark = -1 if new_watermark is None else int(new_watermark)
        full = (
            rollup_full(store, step, with_sketch)
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
        n_buckets, n_tags = int(head.b), int(head.t)
        if n_buckets:
            store.commit.overwrite_partitions(
                store, full, data_path, ["tag"]
            )
        _write_meta(
            store, meta_path,
            step=step,
            watermark_ingest_ts=new_watermark,
            boundary_rows=_boundary_rows(
                _raw_members(store, ingest_floor=new_watermark)
                if new_watermark >= 0 else raw,
                new_watermark,
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

    # Every scan below this point only needs rows with ingest_ts
    # at/past the recorded watermark — plan it over the stats-pruned
    # union so wholly-older cold snapshot files never enter the scan.
    # (`raw` stays the FULL union for the touched-bucket recompute,
    # which must see a bucket's entire history.)
    raw_new = _raw_members(store, ingest_floor=w)

    if partial is None:
        # ONE narrow scan fuses the new watermark with the distinct
        # member count AT the recorded one (the tie-race check):
        # countDistinct over a when() counts only boundary rows.
        head = raw_new.agg(
            F.max("ingest_ts").alias("w_new"),
            F.countDistinct(
                F.when(
                    F.col("ingest_ts") == int(w),
                    F.struct(*MEMBER_IDENTITY_COLS),
                )
            ).alias("cnt_at_w"),
        ).first()
        # the pruned union sees every row >= w, so an empty max means
        # "nothing at/past the watermark" — hold at w, never regress
        new_watermark = int(w) if head.w_new is None else int(head.w_new)
        upper = new_watermark
        # ADVICE r8: a boundary write that tied the recorded watermark
        # mid-refresh widens the probe to >= once; idempotent recompute
        # makes the re-touch harmless.
        include_eq = boundary is None or (
            int(head.cnt_at_w) != int(boundary)
        )
        probe = raw_new.where(
            F.col("ingest_ts") >= w if include_eq
            else F.col("ingest_ts") > w
        )
        cursor = None
        known_upper_boundary = (
            int(head.cnt_at_w) if upper == w else None
        )
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
        probe = raw_new.where(
            (
                F.col("ingest_ts") >= w
                if include_eq
                else F.col("ingest_ts") > w
            )
            & (F.col("ingest_ts") <= upper)
        )
        cursor = partial["cursor"]  # [min_new_ingest, tag]

    # ONE probe scan materializes everything the planning needs at
    # (tag, bucket) granularity: the oldest-new-work ordering key and
    # (when still unknown) the upper-boundary distinct count. The
    # materialized frame is touched-set-sized, so the tag rollup, the
    # boundary sum, and the selection below are trivial re-reads of
    # the checkpoint, not re-scans of the corpus.
    bucket_aggs = [F.min("ingest_ts").alias("_mi")]
    if known_upper_boundary is None:
        bucket_aggs.append(
            F.countDistinct(
                F.when(
                    F.col("ingest_ts") == int(upper),
                    F.struct(*MEMBER_IDENTITY_COLS),
                )
            ).alias("_cb")
        )
    bucket_stats = (
        probe.groupBy("tag", _bucket(step).alias("bucket_start"))
        .agg(*bucket_aggs)
        # lazy: the first consumer below (the boundary sum, else the
        # tag_stats collect) materializes it — one probe job total
        .localCheckpoint(eager=False)
    )
    if known_upper_boundary is None:
        # members are tag-scoped, so the global distinct-at-upper is
        # the sum of the per-bucket counts
        s = bucket_stats.agg(F.sum("_cb").alias("s")).first().s
        upper_boundary = int(s or 0)
    else:
        upper_boundary = known_upper_boundary

    # Oldest-new-work-first tag selection, bounded to max_tags (+1 to
    # detect overflow). Driver state = this list — the cap's point.
    # `_nb` rides the same aggregate so the touched-bucket metric is
    # summed driver-side from these collected rows instead of a
    # separate count() job over the touched set (r17, guide §1.2:
    # fewer actions on a tiny-job-dominated path).
    tag_stats = bucket_stats.groupBy("tag").agg(
        F.min("_mi").alias("_mi"),
        F.count(F.lit(1)).alias("_nb"),
    )
    if cursor is not None:
        c_mi, c_tag = int(cursor[0]), cursor[1]
        tag_stats = tag_stats.where(
            (F.col("_mi") > c_mi)
            | ((F.col("_mi") == c_mi) & (F.col("tag") > c_tag))
        )
    selected = tag_stats.orderBy("_mi", "tag").limit(max_tags + 1).collect()

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
    sel_df = store.spark.createDataFrame(
        [(r.tag,) for r in selected], "tag string"
    )
    touched = bucket_stats.join(
        F.broadcast(sel_df), ["tag"], "left_semi"
    ).select("tag", "bucket_start")
    # bucket_stats has exactly one row per (tag, bucket), so the
    # touched-bucket count is the sum of the selected tags' collected
    # per-tag counts — no extra job.
    n_touched = sum(int(r._nb) for r in selected)

    # Recompute ONLY touched buckets: raw members semi-joined on the
    # (small) touched set FIRST, identity-deduped on the shrunken
    # slice, LWW per key, re-aggregated.
    in_touched = (
        raw.withColumn("bucket_start", _bucket(step))
        .join(F.broadcast(touched), ["tag", "bucket_start"], "left_semi")
        .dropDuplicates(MEMBER_IDENTITY_COLS)
    )
    recomputed = _aggregate(lww_latest(in_touched), step, stored_sketch)

    # every selected tag owns >= 1 bucket_stats row by construction,
    # so the touched tag set IS sel_df — reusing it skips a distinct
    # shuffle on the carried-bucket join's build side
    touched_tags = sel_df
    # Carried-bucket source: only the SELECTED tags' partitions matter
    # (the semi-join below keeps nothing else), and the tag set is the
    # bounded driver-side list the cap already collected — manifest
    # stats prune every other tag's files at PLAN time. On a 100 TB
    # rollup store with millions of tags, the refresh reads max_tags
    # partitions, not the table; hive min==max tag stats make the
    # membership prune exact (directory backends read the full table
    # and the semi-join carries the semantics unchanged).
    old = store.commit.read_table_pruned(
        store,
        data_path,
        recomputed.schema,
        predicates={"tag": {r.tag for r in selected}},
    )
    # Touched tags' new content: untouched old buckets + recomputed
    # buckets (a touched bucket whose members became all-tombstone
    # simply has no recomputed row — the deletion case).
    carried = (
        old.join(F.broadcast(touched_tags), ["tag"], "left_semi")
        .join(F.broadcast(touched), ["tag", "bucket_start"], "left_anti")
    )
    merged = (
        carried.unionByName(recomputed)
        .repartition("tag")
        # materialize before overwriting its source — lazily: the
        # present-tags collect below is the materializing action
        .localCheckpoint(eager=False)
    )
    # Dynamic overwrite only rewrites tag partitions PRESENT in
    # merged: a touched tag whose every bucket emptied (fully
    # tombstoned) would otherwise keep its stale rollup rows — drop
    # those tag directories explicitly (bounded by max_tags).
    present = {r.tag for r in merged.select("tag").distinct().collect()}
    for r in selected:
        if r.tag not in present:
            store.commit.drop_partition_dir(
                store, f"{data_path}/tag={r.tag}"
            )
    if present:
        store.commit.overwrite_partitions(store, merged, data_path, ["tag"])

    if capped:
        last = selected[-1]
        _write_meta(
            store, meta_path,
            step=step, watermark_ingest_ts=w, boundary_rows=boundary,
            partial={
                "upper": upper,
                "boundary_rows": upper_boundary,
                "cursor": [int(last._mi), last.tag],
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
    empty = _aggregate(
        lww_latest(store.spark.createDataFrame([], store.hot().schema)),
        meta["step"],
        bool(meta.get("with_sketch", False)),
    )
    predicates: dict = {}
    if tags is not None:
        predicates["tag"] = {str(t) for t in tags}
    if bucket_range is not None:
        lo, hi = bucket_range
        predicates["bucket_start"] = (
            None if lo is None else int(lo),
            None if hi is None else int(hi),
        )
    df = store.commit.read_table_pruned(
        store,
        data_path,
        empty.schema,
        predicates=predicates or None,
        version=version,
    )
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
