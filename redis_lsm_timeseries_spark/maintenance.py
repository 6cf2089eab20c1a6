"""Steady-state table maintenance for manifest tables: small-file
compaction at FILE granularity.

Every streaming sink and per-micro-batch commit accumulates small
files; left alone, a year of micro-batches is a million tiny footers
and a planning problem. The classic fix is bin-packing compaction
(Delta OPTIMIZE, Iceberg rewrite_data_files) — and with per-file row
counts already recorded in the manifest log, planning it costs ZERO
storage reads: the driver groups undersized files from the stats map
alone, then each group rewrites through ``rewrite_files`` as its own
atomic commit.

Why per-group commits rather than one big one: a crash mid-run leaves
the completed groups durably compacted and the rest untouched — the
next run continues where it stopped (the grouping is recomputed from
fresh stats, so nothing is double-compacted). Concurrent appends of
new small files are untouched by the conflict check and simply become
next run's input; a racing rewrite of a grouped file aborts that one
group (``RewriteConflictError``) without poisoning the others.

Hive-partitioned members group WITHIN a partition directory only —
merging across partitions would corrupt the layout, and a compacted
file whose rows all share one partition value re-lands in that
directory via ``partitionBy``.
"""

from __future__ import annotations

from dataclasses import dataclass

from redis_lsm_timeseries_spark.commit import ManifestCommit
from redis_lsm_timeseries_spark.errors import (
    RewriteConflictError,
    ValidationError,
)
from redis_lsm_timeseries_spark.operators.merge import partition_cols_of


@dataclass(frozen=True)
class CompactStats:
    #: groups committed (each = one atomic rewrite)
    groups: int
    #: small files folded into those groups
    files_compacted: int
    #: groups skipped because a concurrent rewrite replaced a member
    conflicts: int


def compact_small_files(
    host,
    path: str,
    target_rows: int = 1_000_000,
    min_group: int = 2,
    max_groups: int | None = None,
    commit: ManifestCommit | None = None,
    dv_debt_fraction: float = 0.2,
    scope_files: set[str] | None = None,
) -> CompactStats:
    """Fold files recorded at fewer than ``target_rows`` rows into
    ~``target_rows``-row files, partition-dir-local, one atomic
    commit per group. Files without recorded stats are left alone
    (conservative — pre-stats history compacts only via a full
    ``snapshot_rewrite``). ``max_groups`` bounds one run's work, like
    every other maintenance cap in the engine; the rest compacts on
    later runs, oldest grouping first (deterministic file order).
    ``scope_files`` (r17, predicate-scoped OPTIMIZE) restricts the
    candidate set — files outside it are never grouped or rewritten,
    so maintenance on a 100 TB member is schedulable per stats band.

    Deletion-vector debt (r14): a file whose DV has erased at least
    ``dv_debt_fraction`` of its physical rows is a compaction
    candidate EVEN when its live count clears ``target_rows`` — the
    rewrite is the materialization that reclaims the dead bytes and
    restores metadata-only min/max serving (the Delta
    auto-compaction-on-DV-debt posture)."""
    commit = commit if commit is not None else ManifestCommit()
    stats = commit.member_file_stats(host, path)
    if stats is None:
        raise ValidationError(
            f"compact_small_files: {path!r} is not manifest-managed"
        )

    def pdir(rel: str) -> str:
        return rel.rsplit("/", 1)[0] if "/" in rel else ""

    small: dict[str, list[tuple[str, int]]] = {}
    dvd = {
        f for f, s in stats.items() if s is not None and s.get("dv")
    }
    for f in sorted(stats):
        if scope_files is not None and f not in scope_files:
            continue
        s = stats[f]
        rows = None if s is None else s.get("rows")
        if rows is None:
            continue
        # deletion vectors (r14): group by LIVE rows — a big file
        # whose DV erased most of it is exactly what compaction
        # should fold (materializing the delete as it goes) — and a
        # file past the DV-debt threshold compacts regardless of size
        dvc = int((s.get("dv") or {}).get("count", 0))
        live = int(rows) - dvc
        debt = (
            dvc > 0
            and int(rows) > 0
            and dvc >= dv_debt_fraction * int(rows)
        )
        if live < target_rows or debt:
            small.setdefault(pdir(f), []).append((f, max(0, live)))

    def keep(group: list[str]) -> bool:
        # a lone file normally isn't worth rewriting — unless it
        # carries a DV, where the rewrite IS the materialization
        return len(group) >= min_group or any(f in dvd for f in group)

    groups: list[list[str]] = []
    for _, members in sorted(small.items()):
        cur: list[str] = []
        acc = 0
        for f, rows in members:
            if cur and acc + rows > target_rows:
                if keep(cur):
                    groups.append(cur)
                cur, acc = [], 0
            cur.append(f)
            acc += rows
        if keep(cur):
            groups.append(cur)
    if max_groups is not None:
        groups = groups[: max(0, int(max_groups))]

    done = files_done = conflicts = 0
    for group in groups:
        pcols = partition_cols_of(group)
        # DV-aware subset scan (r14): a group file's deletion vector
        # filters here, so the replacement file MATERIALIZES the
        # delete — rewriting raw bytes would resurrect deleted rows
        plan: dict = {}
        df = commit.scan_member_subset(
            host, path, group, logical=False, plan=plan
        )

        def write(tmp, df=df, pcols=pcols):
            w = df.coalesce(1).write.mode("overwrite")
            if pcols:
                w = w.partitionBy(*pcols)
            w.parquet(tmp)

        try:
            # content-identical rewrite: change feeds skip it outright.
            # plan_dv (r15): a DV restat landing between this scan and
            # the commit keeps the file listed — the CAS turns what
            # would be silent row resurrection into a counted conflict
            commit.rewrite_files(
                host, path, group, write, change={"kind": "preserve"},
                plan_dv=plan["dv"],
            )
        except RewriteConflictError:
            conflicts += 1
            continue
        done += 1
        files_done += len(group)
    return CompactStats(done, files_done, conflicts)


def backfill_file_stats(
    host,
    path: str,
    commit: ManifestCommit | None = None,
    max_files: int | None = None,
) -> int:
    """Retrofit per-file skipping stats onto files committed WITHOUT
    them (pre-stats history, or footers that were unreadable through
    a transient seam): read each missing file's parquet footer and
    land the blocks as ONE ``restat`` commit — the same O(changed
    files) delta op deletion vectors ride, here restoring data
    skipping, ``fast_count``, and compaction planning to old tables
    (the Delta ``ANALYZE``/stats-recompute idiom). ``max_files``
    bounds one run, like every maintenance cap; the rest backfills on
    later runs. Returns the number of files restatted. Concurrent
    rewrites of a target file raise ``RewriteConflictError`` — retry
    on fresh state (stats are attached to exact file identities)."""
    commit = commit if commit is not None else ManifestCommit()
    stats = commit.member_file_stats(host, path)
    if stats is None:
        raise ValidationError(
            f"backfill_file_stats: {path!r} is not manifest-managed"
        )
    missing = [f for f in sorted(stats) if stats[f] is None]
    if max_files is not None:
        missing = missing[: max(0, int(max_files))]
    if not missing:
        return 0
    root, member = commit._resolve(host, path)
    base = commit._member_root(root, member)
    restat = {}
    for f in missing:
        block = commit._one_file_stats(base, f)
        if block is not None:
            restat[f] = block
    if not restat:
        return 0
    # stats-only metadata change: feeds must NOT treat it as a content
    # rewrite — mark preserve (content is bit-identical by definition)
    commit.rewrite_files(
        host, path, [], None, restat=restat,
        change={"kind": "preserve"},
    )
    return len(restat)


def restat_live_extrema(
    host,
    path: str,
    commit: ManifestCommit | None = None,
    max_files: int | None = None,
) -> int:
    """Recompute per-column min/max over the LIVE (post-deletion-
    vector) rows of DV'd files and land them as one ``restat``
    preserve commit (r15, VERDICT r14 #6): after an edge delete,
    ``fast_min_max`` refuses because a DV'd file's recorded footer
    stats only BOUND its live rows — the extremum row may be exactly
    what was deleted. This restores metadata-only serving with ONE
    bounded scan of exactly the DV'd files (at 100 TB: k DV'd files
    out of millions, never the table).

    The live block is stamped with the DV blob path it was computed
    against and SELF-INVALIDATES: a later delete writes a superseding
    blob, the stamp no longer matches, and ``fast_min_max`` falls back
    to the conservative bounds until the next restat — so no CAS is
    needed for correctness. Files already live-statted against their
    current DV are skipped (idempotent); ``max_files`` bounds one run
    like every maintenance cap. Returns the number of files
    restatted."""
    from pyspark.sql import functions as F

    commit = commit if commit is not None else ManifestCommit()
    stats = commit.member_file_stats(host, path)
    if stats is None:
        raise ValidationError(
            f"restat_live_extrema: {path!r} is not manifest-managed"
        )
    todo = [
        f
        for f in sorted(stats)
        if (stats[f] or {}).get("dv")
        and (stats[f].get("live") or {}).get("dv_path")
        != stats[f]["dv"]["path"]
    ]
    if max_files is not None:
        todo = todo[: max(0, int(max_files))]
    if not todo:
        return 0
    df = commit.scan_member_subset(
        host, path, todo, logical=False, keep_pos=True
    )
    # current DV paths AS OF the planning scan: the stamp must name
    # the vector the aggregation actually filtered through
    dv_of = {f: stats[f]["dv"]["path"] for f in todo}
    from pyspark.sql import types as T

    statable = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "timestamp", "timestamp_ntz", "date",
    }

    def ok(dt) -> bool:
        s = dt.simpleString()
        return s in statable or s.startswith("decimal")

    cols: list[str] = []

    def collect(path: str, dt) -> None:
        # plain-struct leaves get dotted live stats too (r15 nested
        # skipping) — the same keys the footer stats record
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                collect(f"{path}.{f.name}", f.dataType)
        elif ok(dt):
            cols.append(path)

    for f in df.schema.fields:
        if f.name not in ("__dv_file", "__dv_pos"):
            collect(f.name, f.dataType)
    if not cols:
        return 0
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(c).alias(f"mn{i}"))
        aggs.append(F.max(c).alias(f"mx{i}"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nl{i}")
        )
    rows = {
        r["__dv_file"]: r
        for r in df.groupBy("__dv_file").agg(*aggs).collect()
    }
    overlay = {}
    for f in todo:
        r = rows.get(f)
        live_cols: dict = {}
        if r is not None:
            for i, c in enumerate(cols):
                mn = ManifestCommit._stat_value(
                    r[f"mn{i}"], ManifestCommit.STATS_MAX_STR, "min"
                )
                mx = ManifestCommit._stat_value(
                    r[f"mx{i}"], ManifestCommit.STATS_MAX_STR, "max"
                )
                if mn is not None and mx is not None:
                    live_cols[c] = {
                        "min": mn,
                        "max": mx,
                        "nulls": int(r[f"nl{i}"] or 0),
                    }
        # a file absent from the aggregate has zero live rows — stamp
        # an empty block so fast_min_max skips it exactly
        overlay[f] = {
            "live": {"dv_path": dv_of[f], "cols": live_cols}
        }
    # metadata-only: content is untouched by definition (preserve);
    # the per-field overlay keeps any concurrently landed stats
    commit.rewrite_files(
        host, path, [], None,
        restat_overlay=overlay, change={"kind": "preserve"},
    )
    return len(overlay)


def table_report(host, path: str, commit: ManifestCommit | None = None):
    """Health report for a manifest member, computed from the log
    alone (no storage reads): file and row counts, stats coverage,
    and per-column CLUSTERING HEALTH — the mean fraction of the
    column's global domain each file spans. 1.0 means every file
    covers everything (min/max pruning can never skip); ~1/n_files
    means tight bands (range or Z-order clustered). The number that
    tells you whether to run ``zorder_compact`` before the next
    scan-heavy day, without scanning anything."""
    commit = commit if commit is not None else ManifestCommit()
    stats = commit.member_file_stats(host, path)
    if stats is None:
        raise ValidationError(
            f"table_report: {path!r} is not manifest-managed"
        )
    n_files = len(stats)
    with_stats = {f: s for f, s in stats.items() if s is not None}
    dv_rows = sum(
        (s.get("dv") or {}).get("count", 0) for s in with_stats.values()
    )
    rows = sum(s.get("rows", 0) for s in with_stats.values()) - dv_rows
    spans: dict[str, list[float]] = {}
    bounds: dict[str, list[float]] = {}
    norm = ManifestCommit._norm_scalar
    for s in with_stats.values():
        for col, cs in s.get("cols", {}).items():
            nmn, nmx = norm(cs.get("min")), norm(cs.get("max"))
            # numeric AND type-tagged temporal stats both have a
            # meaningful span fraction
            if (
                nmn is not None
                and nmx is not None
                and nmn[0] == nmx[0]
                and nmn[0] in ("n", "ts", "d")
            ):
                mn, mx = float(nmn[1]), float(nmx[1])
                b = bounds.setdefault(col, [mn, mx])
                b[0] = min(b[0], mn)
                b[1] = max(b[1], mx)
                spans.setdefault(col, []).append((mn, mx))
    clustering = {}
    for col, pairs in spans.items():
        lo, hi = bounds[col]
        dom = hi - lo
        if dom <= 0 or len(pairs) < 2:
            continue
        clustering[col] = round(
            sum((b - a) / dom for a, b in pairs) / len(pairs), 4
        )
    return {
        "files": n_files,
        "files_with_stats": len(with_stats),
        "rows": rows,
        "avg_rows_per_file": (
            round(rows / len(with_stats), 1) if with_stats else 0.0
        ),
        "clustering_span_fraction": clustering,
        # deletion-vector debt: how many rows a compaction pass would
        # physically drop (files_with_dv > 0 says "materialize soon")
        "files_with_dv": sum(
            1 for s in with_stats.values() if s.get("dv")
        ),
        "dv_rows": dv_rows,
        "constraints": sorted(commit.table_constraints(host, path)),
    }


@dataclass(frozen=True)
class OptimizeStats:
    compacted_files: int
    clustered_files: int
    vacuumed: int
    report: dict


def optimize_table(
    host,
    path: str,
    zorder_cols: list[str] | None = None,
    target_rows: int = 1_000_000,
    max_groups: int | None = None,
    vacuum_retain: int | None = None,
    commit: ManifestCommit | None = None,
    dv_debt_fraction: float = 0.2,
    where: str | None = None,
) -> OptimizeStats:
    """One maintenance pass over a manifest member, in the order the
    steps compose best: fold small files (so the Z-order pass
    clusters real files, not droppings), cluster the unclustered tail
    along ``zorder_cols`` (omit for single-key tables — compaction's
    coalesce already keeps row order within groups), vacuum to the
    retention horizon, and return the post-pass ``table_report``. The
    cron-job entry point; each underlying step keeps its own crash /
    conflict story, so the composition inherits them.

    ``where`` (r17, the Delta predicate-scoped OPTIMIZE): a SQL
    predicate whose envelope-expressible conjuncts (``col <op>
    literal`` / BETWEEN / IN — see ``_predicate_envelope``) bound the
    pass to the files whose STATS may overlap — compaction and
    Z-ordering on a 100 TB member become schedulable per recency
    band, touching O(band files). A predicate with no extractable
    envelope refuses loudly (silently optimizing everything would
    betray the caller's cost expectation). Scoped passes skip the
    stats backfill (statless files always stay in scope — superset-
    safe — and backfilling the whole member defeats the scoping)."""
    from redis_lsm_timeseries_spark.operators.dml import (
        _predicate_envelope,
    )
    from redis_lsm_timeseries_spark.operators.zorder import zorder_compact

    commit = commit if commit is not None else ManifestCommit()
    scope = None
    if where is not None:
        env = _predicate_envelope(where)
        if not env:
            raise ValidationError(
                f"optimize_table: WHERE {where!r} has no envelope-"
                "expressible conjunct (col <op> literal / BETWEEN / "
                "IN of literals, AND-combined) — run unscoped, or "
                "express the band as stats bounds"
            )
        kept, _total = commit.prune_files(host, path, env)
        scope = set(kept)
        if not scope:
            return OptimizeStats(
                0, 0, 0, table_report(host, path, commit=commit)
            )
    # stats first (r14): statless files are invisible to compaction's
    # zero-IO planning and never prune — one preserve-kind restat
    # commit makes the rest of the pass (and every future scan) see
    # them; a no-op when nothing is missing
    if scope is None:
        backfill_file_stats(host, path, commit=commit)
    cs = compact_small_files(
        host, path, target_rows=target_rows,
        max_groups=max_groups, commit=commit,
        dv_debt_fraction=dv_debt_fraction, scope_files=scope,
    )
    clustered = 0
    if zorder_cols:
        if scope is not None and cs.files_compacted:
            # compaction replaced in-scope files with NEW relpaths;
            # re-prune on fresh state so the Z-order pass sees the
            # band's current files (replacements hold only in-band
            # rows, so their stats land back inside the envelope)
            scope = set(commit.prune_files(host, path, env)[0])
        clustered = zorder_compact(
            host, path, zorder_cols, min_files=1, commit=commit,
            scope_files=scope,
        )
    # files still carrying a DV after compaction (debt under the
    # threshold) get live extrema restatted (r15), so fast_min_max
    # serves metadata-only even after edge deletes; a no-op when no
    # DV'd file lacks a current-vector live block
    restat_live_extrema(host, path, commit=commit)
    root, _ = commit._resolve(host, path)
    vacuumed = commit.vacuum(
        host, root,
        retain_versions=vacuum_retain,
    )
    return OptimizeStats(
        cs.files_compacted, clustered, vacuumed,
        table_report(host, path, commit=commit),
    )


def fast_count(
    host,
    path: str,
    predicates: dict | None = None,
    commit: ManifestCommit | None = None,
):
    """Exact ``count(*)`` from the manifest log alone — zero storage
    reads — or None when the stats cannot PROVE the answer (caller
    falls back to a scan). Without predicates this is the sum of
    recorded per-file row counts (None if any file lacks stats).
    With predicates ({col: (lo, hi)} or {col: {values}}), a file
    counts fully when its stats prove EVERY row matches (min==max
    inside the predicate for each column — hive partition columns by
    construction), counts zero when no row can match, and anything
    between returns None. The Delta metadata-only-count idiom:
    answers ``how many rows in tag=X`` for a partitioned member
    without touching a single parquet footer."""
    commit = commit if commit is not None else ManifestCommit()
    stats = commit.member_file_stats(host, path)
    if stats is None:
        return None
    if predicates:
        # mapped members (r13 schema evolution): predicates arrive on
        # logical names (dotted for nested struct leaves, r15), stats
        # are recorded under physical ones
        meta = commit.schema_meta(host, path)
        if meta.get("map") or meta.get("nested"):
            predicates = {
                ManifestCommit._phys_dotted(meta, c): b
                for c, b in predicates.items()
            }

    norm = ManifestCommit._norm_scalar

    def point_in(nv, bound) -> bool:
        """Is the normalized point ``nv`` provably inside ``bound``?"""
        if isinstance(bound, (set, frozenset)):
            return any(norm(b) == nv for b in bound)
        lo, hi = bound
        if lo is not None:
            nlo = norm(lo)
            if nlo is None or nlo[0] != nv[0]:
                raise TypeError("incomparable bound")
            if nv[1] < nlo[1]:
                return False
        if hi is not None:
            nhi = norm(hi)
            if nhi is None or nhi[0] != nv[0]:
                raise TypeError("incomparable bound")
            if nv[1] > nhi[1]:
                return False
        return True

    def overlap(nmn, nmx, bound):
        """True / False / None = cannot prove either way. Kind
        incomparability must be None, never False: a string predicate
        against an int-parsed partition stat (a string column whose
        values LOOK numeric) is not proof of absence — treating it as
        'none' would silently undercount where ``prune_files``
        conservatively keeps the file."""
        if isinstance(bound, (set, frozenset)):
            if not bound:
                return False  # empty set provably matches nothing
            if nmn[0] != nmx[0]:
                return None
            nbs = [norm(b) for b in bound]
            comp = [b[1] for b in nbs if b is not None and b[0] == nmn[0]]
            if any(nmn[1] <= v <= nmx[1] for v in comp):
                return True
            # values of OTHER kinds might still match rows (the stat
            # may be an int-parsed string partition value), so a set
            # that isn't fully comparable can never prove absence
            return False if len(comp) == len(bound) else None
        lo, hi = bound
        if lo is not None:
            nlo = norm(lo)
            if nlo is None or nlo[0] != nmx[0]:
                return None
            if nmx[1] < nlo[1]:
                return False
        if hi is not None:
            nhi = norm(hi)
            if nhi is None or nhi[0] != nmn[0]:
                return None
            if nmn[1] > nhi[1]:
                return False
        return True

    total = 0
    for f, s in stats.items():
        if s is None or s.get("rows") is None:
            return None
        # deletion vectors (r14): the file's LIVE count is its
        # physical rows minus the DV's recorded positions — still
        # exact, because the positions are distinct by construction.
        # The all-rows-match proof below stays valid for live rows
        # (they are a subset of the physical rows it covers).
        rows = int(s["rows"]) - int((s.get("dv") or {}).get("count", 0))
        if rows <= 0:
            continue
        if not predicates:
            total += rows
            continue
        cols = s.get("cols", {})
        verdict = "all"
        for col, bound in predicates.items():
            cs = cols.get(col)
            nmn = None if cs is None else norm(cs.get("min"))
            nmx = None if cs is None else norm(cs.get("max"))
            if nmn is None or nmx is None:
                return None  # can't prove anything for this file
            try:
                # 'every row matches' additionally requires a KNOWN
                # zero null count: NULL rows never satisfy a predicate,
                # so a contained range with nulls present (or
                # unrecorded) can only prove the non-null rows match —
                # not countable exactly here, fall through to the
                # partial verdict. Interval bounds (r15): min AND max
                # inside the inclusive range prove every value is (any
                # v satisfies min <= v <= max ⊆ [lo, hi]); set bounds
                # still need min == max — in-between values may be
                # absent from the set.
                contained = (
                    nmn == nmx and point_in(nmn, bound)
                ) or (
                    not isinstance(bound, (set, frozenset))
                    and point_in(nmn, bound)
                    and point_in(nmx, bound)
                )
                if contained and cs.get("nulls") == 0:
                    continue  # every row matches on this column
                ov = overlap(nmn, nmx, bound)
                if ov is None:
                    return None  # incomparable: cannot prove
                if not ov:
                    verdict = "none"
                    break
            except TypeError:
                return None  # incomparable types
            verdict = "partial"
            break
        if verdict == "all":
            total += rows
        elif verdict == "none":
            continue
        else:
            return None
    return total


def fast_min_max(
    host,
    path: str,
    column: str,
    commit: ManifestCommit | None = None,
):
    """Exact ``(min, max)`` of a column from the manifest log alone —
    zero storage reads — or None when the stats cannot prove it (a
    file without the column's stats, or mixed stat kinds; caller
    falls back to a scan). SQL min/max ignore NULLs, so null counts
    don't gate this the way they gate ``fast_count``; a table whose
    every row is NULL in the column answers None (no stat recorded —
    the scan fallback returns NULL, matching SQL). Type-tagged
    temporal stats decode back to datetimes/dates. The Delta
    metadata-only-aggregate idiom: answers "what time range does this
    table cover" for a 100k-file table without opening a footer.

    Deletion vectors (r14): a DV'd file's recorded min/max only BOUND
    its live rows, so the answer stays exact iff every DV'd file's
    range is dominated by the clean files' global range (interior
    deletes — the common case); a DV touching an edge file answers
    None (the extremum may be what was deleted) — until
    ``restat_live_extrema`` (r15) lands exact live extrema for the
    DV'd files, after which metadata-only serving returns."""
    import datetime

    commit = commit if commit is not None else ManifestCommit()
    stats = commit.member_file_stats(host, path)
    if stats is None:
        return None
    # mapped members: the caller names the LOGICAL column (dotted for
    # nested struct leaves, r15)
    column = ManifestCommit._phys_dotted(
        commit.schema_meta(host, path), column
    )
    norm = ManifestCommit._norm_scalar
    lo = hi = None  # over CLEAN (no-DV) files: every row live, exact
    dlo = dhi = None  # over DV'd files: bounds on their LIVE rows
    saw_rows = False
    for f, s in stats.items():
        if s is None:
            return None  # a file without stats could hold the extremum
        if s.get("rows") == 0:
            continue
        dvc = int((s.get("dv") or {}).get("count", 0))
        if s.get("rows") is not None and int(s["rows"]) - dvc <= 0:
            continue  # every row deletion-vectored out
        saw_rows = True
        live = s.get("live") if s.get("dv") else None
        if live is not None and live.get("dv_path") == s["dv"]["path"]:
            # live-extrema restat against the CURRENT vector (r15,
            # restat_live_extrema): these min/max are exact over the
            # file's live rows — treat the file as clean. A stale
            # stamp (superseded blob) self-invalidates to the bounds
            # logic below.
            lc = live.get("cols", {}).get(column)
            if lc is None:
                return None  # live rows exist, column unprovable
            nmn, nmx = norm(lc.get("min")), norm(lc.get("max"))
            if nmn is None or nmx is None:
                return None
            if lo is None:
                lo, hi = nmn, nmx
                continue
            if nmn[0] != lo[0] or nmx[0] != hi[0]:
                return None
            lo = min(lo, nmn, key=lambda t: t[1])
            hi = max(hi, nmx, key=lambda t: t[1])
            continue
        cs = s.get("cols", {}).get(column)
        nmn = None if cs is None else norm(cs.get("min"))
        nmx = None if cs is None else norm(cs.get("max"))
        if nmn is None or nmx is None:
            # rows present but the column unstatted: cannot prove —
            # UNLESS every row is null in this file, which the stats
            # cannot distinguish from "stat dropped"; stay safe
            return None
        if s.get("dv"):
            # deletion vector in play: recorded min/max only BOUND the
            # live rows (the extremum row may be what was deleted) —
            # track separately; provable iff dominated by clean files
            if dlo is None:
                dlo, dhi = nmn, nmx
            else:
                if nmn[0] != dlo[0] or nmx[0] != dhi[0]:
                    return None
                dlo = min(dlo, nmn, key=lambda t: t[1])
                dhi = max(dhi, nmx, key=lambda t: t[1])
            continue
        if lo is None:
            lo, hi = nmn, nmx
            continue
        if nmn[0] != lo[0] or nmx[0] != hi[0]:
            return None  # mixed stat kinds across files
        lo = min(lo, nmn, key=lambda t: t[1])
        hi = max(hi, nmx, key=lambda t: t[1])
    if dlo is not None:
        # Exact despite DVs when the DV'd files are INTERIOR: a DV'd
        # file's live min is >= its recorded min, so if every DV'd
        # recorded range sits within the clean files' global range the
        # clean extrema are the table's extrema. A DV'd file at the
        # edge (or no clean file at all) cannot prove — scan fallback.
        if lo is None:
            return None
        if dlo[0] != lo[0] or dhi[0] != hi[0]:
            return None
        if dlo[1] < lo[1] or dhi[1] > hi[1]:
            return None
    if not saw_rows or lo is None:
        return None

    def decode(t):
        kind, v = t
        if kind == "ts":
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=v
            )
        if kind == "d":
            return datetime.date.fromordinal(v)
        return v

    return decode(lo), decode(hi)
