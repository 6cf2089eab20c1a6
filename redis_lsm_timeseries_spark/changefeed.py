"""Exactly-once change-feed consumption: mirror a manifest table's
appends into a derived table with the consumer's cursor committed
ATOMICALLY with the rows it produced.

The primitive pair is ``ManifestCommit.read_changes`` (the rows added
between two retained versions, as the immutable-file diff) and
``append_table_with_meta`` (rows + an ``app``-map update in ONE log
entry — the Delta ``txn`` action idiom). A consumer that records the
source version it just processed inside the same commit as its output
is exactly-once by construction: a crash before the commit leaves the
cursor unmoved (replay re-reads the same delta), a crash after leaves
both (replay reads an empty delta). No external checkpoint store, no
two-phase anything — the destination table IS the checkpoint.

This is the incremental-pipeline backbone at 100 TB: downstream jobs
(a rollup over a curated corpus, a replica for a different cluster
layout, a feature extractor) run on O(new data) per invocation, with
the full-resync path reserved for the one case the file diff cannot
express — a compaction/rewrite in the source history, surfaced as the
typed ``NonAppendHistoryError`` rather than silently double-counting.
"""

from __future__ import annotations

from dataclasses import dataclass

from redis_lsm_timeseries_spark.commit import ManifestCommit
from redis_lsm_timeseries_spark.errors import (
    NonAppendHistoryError,
    ValidationError,
    VersionNotFoundError,
)
from redis_lsm_timeseries_spark.session import materialize


@dataclass(frozen=True)
class MirrorMetrics:
    #: source version this run advanced the cursor to
    src_version: int
    #: rows appended to the mirror this run (-1: full resync, count
    #: not taken — the mirror equals the source snapshot); for the
    #: keyed path, upserts applied + keys deleted
    rows_mirrored: int
    #: "initial" | "incremental" | "row-incremental" | "resync" |
    #: "noop"
    mode: str


def _cursor_key(app_id: str) -> str:
    return f"mirror:{app_id}"


def _checked_transform(transform, df, keys):
    """Apply a user transform on the keyed path, failing loudly if it
    dropped or renamed a key column (the applies would silently match
    nothing otherwise)."""
    out = transform(df)
    missing = [k for k in keys if k not in out.columns]
    if missing:
        raise ValidationError(
            f"mirror_changes: transform dropped key column(s) "
            f"{missing} — the keyed applies need them verbatim"
        )
    return out


def mirror_changes(
    host,
    src_path: str,
    dst_path: str,
    app_id: str = "default",
    transform=None,
    commit: ManifestCommit | None = None,
    keys: list[str] | None = None,
) -> MirrorMetrics:
    """One mirroring step: append to ``dst_path`` exactly the rows
    added to ``src_path`` since this consumer's recorded cursor, and
    advance the cursor in the same atomic commit. Safe to call on any
    schedule; idempotent under replay; concurrent source commits are
    fine (the cursor pins the exact version range read).

    ``transform``, if given, maps the delta DataFrame before writing —
    the incremental-ETL hook (filter/project/enrich); it must be
    deterministic and row-local for the exactly-once accounting to
    mean what it says (an aggregation over the delta is fine too — it
    commits atomically — but only row-local transforms make the
    mirror's CONTENT equal a transform of the source snapshot).

    First call copies the source snapshot as-of its newest version
    ("initial").

    Without ``keys`` the mirror is append-only: content-preserving
    source rewrites (small-file compaction, Z-order) are skipped by
    the file-level feed, and any OTHER rewrite (merge, delete, LWW
    compaction, overwrite) triggers a full RESYNC — the mirror is
    rewritten from the current source snapshot and the cursor jumps
    forward, the documented fallback the typed error exists for.

    With ``keys`` (the source's primary key) the mirror consumes the
    ROW-level feed: merges and deletes apply as O(delta) keyed
    upserts/deletes on the destination ("row-incremental") instead of
    full resyncs — at 100 TB the difference between re-copying the
    world after every maintenance pass and writing only what changed.
    The applies are idempotent by key, so a crash between them and
    the cursor commit replays to the same state (exactly-once
    EFFECT); the trailing cursor commit still CASes. ``transform``
    composes with ``keys`` (r13): it must be row-local
    (project/filter/enrich), DETERMINISTIC, and must preserve the key
    columns — it is applied to the netted upsert rows (and the
    initial/resync snapshot), and a row the transform FILTERS OUT is
    applied as a key delete, so a per-tenant filtered mirror tracks
    rows leaving its subset. A transform that drops a key column
    raises ``ValidationError``. An unmarked content rewrite (a raw
    ``snapshot_rewrite`` without change metadata) still resyncs."""
    commit = commit if commit is not None else ManifestCommit()
    versions = commit.table_versions(host, src_path)
    if not versions:
        raise ValidationError(
            f"mirror_changes: source {src_path!r} is not a "
            "manifest-managed table (no version log)"
        )
    latest = versions[-1]
    cursor = commit.read_app_meta(host, dst_path).get(_cursor_key(app_id))

    # Every commit below CASes on the cursor still holding the value
    # read above: two concurrent runs sharing an app_id both pass the
    # planning-time check, but only one can land — the other raises
    # RewriteConflictError instead of double-appending the same delta
    # (the Delta txn idiom's transactional version re-check).
    cas = {_cursor_key(app_id): cursor}

    if cursor is None:
        snap = commit.read_table(host, src_path, None, version=latest)
        if transform is None:
            out = snap
        elif keys is not None:
            out = _checked_transform(transform, snap, keys)
        else:
            out = transform(snap)
        n = out.count()
        commit.append_table_with_meta(
            host, dst_path, out, {_cursor_key(app_id): latest},
            expected_app=cas,
        )
        return MirrorMetrics(latest, n, "initial")

    since = int(cursor)
    if since == latest:
        return MirrorMetrics(latest, 0, "noop")
    if since > latest:
        raise ValidationError(
            f"mirror_changes: cursor {since} is ahead of the source's "
            f"newest version {latest} — the source log was rebuilt; "
            "delete the mirror (or use a new app_id) to restart"
        )
    if keys is not None:
        return _apply_row_changes(
            host, commit, src_path, dst_path, keys, since, latest, cas,
            _cursor_key(app_id), transform,
        )
    try:
        delta = commit.read_changes(
            host, src_path, since, to_version=latest
        )
    except (NonAppendHistoryError, VersionNotFoundError):
        # Two resync triggers, same remedy: the file diff can't
        # express a rewrite, OR the consumer lagged so far behind
        # that vacuum pruned its cursor version from the source log.
        # Rebuild the mirror from the current snapshot, cursor riding
        # the same atomic entry.
        snap = commit.read_table(host, src_path, None, version=latest)
        out = transform(snap) if transform is not None else snap
        commit.replace_table_with_meta(
            host, dst_path, out, {_cursor_key(app_id): latest},
            expected_app=cas,
        )
        return MirrorMetrics(latest, -1, "resync")

    out = transform(delta) if transform is not None else delta
    n = out.count()
    commit.append_table_with_meta(
        host, dst_path,
        out if n else None,
        {_cursor_key(app_id): latest},
        expected_app=cas,
    )
    return MirrorMetrics(latest, n, "incremental")


def _apply_row_changes(
    host, commit, src_path, dst_path, keys, since, latest, cas,
    cursor_key, transform=None,
) -> MirrorMetrics:
    """Keyed incremental apply: fold the row-level feed to its NET
    effect per key (last change in version order wins — a key merged
    at v6 and deleted at v7 nets to a delete), then apply upserts and
    deletes to the mirror through the same file-pruned merge machinery
    the source used. Work is O(delta): the netting shuffles only the
    changed rows, and the destination rewrites only files whose stats
    overlap the changed keys. Falls back to a full resync exactly when
    the source cannot express its history row-wise (an unmarked
    external content rewrite) or the cursor fell past vacuum's
    horizon."""
    try:
        changes = commit.read_row_changes(
            host, src_path, since, to_version=latest
        )
    except (NonAppendHistoryError, VersionNotFoundError):
        snap = commit.read_table(host, src_path, None, version=latest)
        if transform is not None:
            snap = _checked_transform(transform, snap, keys)
        commit.replace_table_with_meta(
            host, dst_path, snap, {cursor_key: latest},
            expected_app=cas,
        )
        return MirrorMetrics(latest, -1, "resync")

    if changes is None:
        # metadata-only range (e.g. pure preserve commits): advance
        # the cursor so the next run's walk starts past it
        commit.append_table_with_meta(
            host, dst_path, None, {cursor_key: latest},
            expected_app=cas,
        )
        return MirrorMetrics(latest, 0, "row-incremental")

    n = _apply_keyed_changes(
        host, commit, dst_path, keys, changes, cursor_key, latest,
        cas, transform,
    )
    return MirrorMetrics(latest, n, "row-incremental")


def _net_changes(changes, keys, tcol, vcol):
    """Deterministic per-key netting of a typed change set: latest
    commit version wins per key. WITHIN a version, a non-delete beats
    a delete — an atomic commit that both erases a key's old row and
    lands its replacement (``replace_range``) nets to the replacement,
    because the key exists in that commit's post-state; ordering by
    row content first could pick the delete whenever the old row
    compared larger. Remaining ties (duplicate-key rows in one append
    — keyed mirroring assumes the source keeps its key unique, but a
    violation must not make replay nondeterministic) break on the
    full row content, so every run and every crash replay picks the
    same survivor. Returns ``(upserts, deletes)``: the surviving rows
    minus the feed columns, and the netted-to-delete keys."""
    from pyspark.sql import Window, functions as F

    data_cols = sorted(
        c for c in changes.columns if c not in (tcol, vcol)
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(vcol).desc(),
        (F.col(tcol) != "delete").desc(),
        *[F.col(c).desc_nulls_last() for c in data_cols],
        F.col(tcol).desc(),
    )
    net = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    net = materialize(net, "changefeed.net_changes")  # consumed by two branches
    upserts = net.where(F.col(tcol) != "delete").drop(tcol, vcol)
    deletes = net.where(F.col(tcol) == "delete").select(*keys)
    return upserts, deletes


def _apply_keyed_changes(
    host, commit, dst_path: str, keys: list[str], changes,
    cursor_key: str, cursor_value, cas: dict, transform=None,
) -> int:
    """Net a typed change set and apply it to the keyed mirror at
    ``dst_path``: idempotent merge/delete with the cursor CAS as an
    entry guard on every data-mutating commit, cursor advanced LAST —
    used by the pull-based ``mirror_changes`` (cursor = source
    version). Returns rows applied."""
    from redis_lsm_timeseries_spark.operators.merge import (
        delete_rows,
        merge_into,
    )

    tcol, vcol = commit.CDF_TYPE_COL, commit.CDF_VERSION_COL
    upserts, deletes = _net_changes(changes, keys, tcol, vcol)
    if transform is not None:
        # Row-local reshape of the netted upserts. A row the transform
        # FILTERS OUT left the mirrored subset — apply it as a key
        # delete, so a filtered mirror converges to
        # transform(snapshot) exactly. Deletes carry keys only and
        # pass through untouched (the contract requires the transform
        # to preserve key columns).
        shaped = materialize(
            _checked_transform(transform, upserts, keys), "changefeed.shaped_upserts"
        )
        left_subset = upserts.select(*keys).subtract(
            shaped.select(*keys)
        )
        deletes = deletes.unionByName(left_subset)
        upserts = shaped
    n_up = upserts.count()
    n_del = deletes.count()
    # idempotent keyed applies, cursor committed LAST — and every
    # data-mutating commit carries the cursor CAS as an entry guard:
    # a racing consumer sharing the app_id conflicts BEFORE touching
    # the destination (its planning state is stale), not merely at
    # its trailing cursor commit after stale data already landed
    cas_guard = commit._app_cas_guard(cas)
    if n_up:
        # Feed rows carry the source's TRUE column types; a mirror
        # seeded from a hive-partitioned snapshot can hold directory-
        # inference-NARROWED partition values (a small part_start
        # domain reads as int though the source column is long).
        # Merge's type enforcement (r14) would refuse the drift — the
        # principled fix is the one users get: widen the destination,
        # one metadata-only commit, first drift only.
        widenable = {("int", "bigint"): "long",
                     ("float", "double"): "double"}
        dst_t = dict(commit.read_table(host, dst_path, None).dtypes)
        for c, t in upserts.dtypes:
            w = widenable.get((dst_t.get(c), t))
            if w is not None:
                commit.widen_column(host, dst_path, c, w)
        merge_into(
            host, dst_path, upserts, keys, commit=commit,
            extra_guard=cas_guard,
        )
    if n_del:
        delete_rows(
            host, dst_path, deletes, keys, commit=commit,
            extra_guard=cas_guard,
        )
    commit.append_table_with_meta(
        host, dst_path, None, {cursor_key: cursor_value},
        expected_app=cas,
    )
    return n_up + n_del
