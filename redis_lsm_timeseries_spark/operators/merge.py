"""Row-level MERGE / DELETE on seam-managed tables — copy-on-write at
FILE granularity.

The reference's write path is a content-keyed upsert: a second write to
the same (tag, timestamp) supersedes the first on read
(``index.js:123``, LWW pick at ``index.js:240-258``). The engine
carries that posture on the hot tier (append + LWW merge-on-read,
compaction folds winners). Derived and cold MANIFEST tables get the
complementary eager form here: ``merge_into`` rewrites matched rows in
place, Delta-``MERGE``-style, so readers need no merge-on-read and a
correction to yesterday's corpus does not wait for a full compaction.

100 TB shape — the whole point is what does NOT get read or written:

- the source's key envelope (bounded distinct set, else per-column
  min/max) is pruned against the manifest's per-file stats, so only
  the files that MAY contain a matched key are read or rewritten;
  every other file's manifest entry is carried forward byte-untouched;
- the rewrite commits through ``ManifestCommit.rewrite_files`` — ONE
  atomic log entry that drops exactly the affected files and adds
  their replacements. Concurrent appends provably OUTSIDE the key
  envelope survive untouched; an append whose stats MAY overlap it
  raises ``RewriteConflictError`` (as does a concurrent rewrite of
  the same files) — without that guard a key-overlapping append
  landing between prune and commit would leave duplicate keys, the
  Delta WriteSerializable merge/append conflict this mirrors;
- replacement files are range-clustered on the key, so their stats
  stay tight and the NEXT merge prunes just as well;
- a directory-mode table (no manifest, no stats) falls back to a
  whole-table ``snapshot_rewrite`` with identical row-level semantics
  — callers get one API, transactional backends get the scale path;
- schema-mapped members (rename/drop/widen, r13) compose (r14): the
  merge plans in the LOGICAL view (the names the caller's source
  carries), prunes and guards with physically-translated predicates,
  and stages replacement + CDF files under the member's immutable
  physical names — rename never disables mutation, and a rename
  racing a merge is benign because physical names don't move.

Deletes (``delete_rows`` by key set — the GDPR erasure primitive)
ride the same machinery: files whose stats PROVE no row matches are
never touched, a file whose every row matches is dropped without a
replacement write.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.errors import ValidationError
from redis_lsm_timeseries_spark.session import materialize

#: distinct-key collection cap for membership predicates; past it the
#: envelope degrades to per-column min/max ranges (still superset-safe,
#: just coarser pruning) rather than an unbounded driver collect.
KEY_SET_MAX = 100_000


@dataclass(frozen=True)
class MergeStats:
    #: files read + replaced (manifest mode; directory mode = all)
    files_rewritten: int
    #: committed file count of the member before the merge
    files_total: int
    #: rows the clauses actually APPLIED (updates + inserts) on the
    #: manifest backend; directory mode reports the post-LWW source
    #: row count (counting applied rows there would re-run the whole
    #: rewrite plan a second time)
    rows_upserted: int


@dataclass(frozen=True)
class DeleteStats:
    files_rewritten: int
    files_total: int


def _key_predicates(source: DataFrame, keys: list[str]) -> dict:
    """Superset-safe per-column prune envelope of the source's keys:
    a bounded distinct-value set per key column (exact membership
    pruning), degrading to an inclusive (min, max) range past the cap.
    Per-column independence is safe — a file is only dropped when some
    column's values provably never appear in it."""
    preds: dict = {}
    for col in keys:
        vals = [
            r[0]
            for r in source.select(col)
            .distinct()
            .limit(KEY_SET_MAX + 1)
            .collect()
        ]
        if len(vals) <= KEY_SET_MAX:
            preds[col] = set(vals)
        else:
            lo_hi = source.agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).first()
            preds[col] = (lo_hi.lo, lo_hi.hi)
    return preds


def _resolve_source_counted(
    source: DataFrame, keys: list[str], order_col: str | None
) -> tuple[DataFrame, int | None]:
    """One row per key: last-writer-wins within the source when
    ``order_col`` names the ordering (ties broken by the remaining
    columns, deterministically), else duplicate keys are an error —
    silently picking one would hide a bug in the caller's pipeline.
    NULL keys are rejected on every backend: NULL never equals a
    target key, so the row could neither match nor be looked up
    again.

    Also returns the resolved row count when it falls out for free:
    without ``order_col`` the NULL-key check, the
    duplicate-key check and the source count all derive from ONE
    groupBy(keys) aggregation — previously three separate source
    scans (isEmpty + dup collect + count), the dominant per-merge
    fixed cost on small sources (r17, guide §1.2). With ``order_col``
    the count depends on the group collapse, so it returns None and
    the caller counts the resolved frame if it needs to."""
    null_pred = None
    for k in keys:
        c = F.col(k).isNull()
        null_pred = c if null_pred is None else (null_pred | c)
    others = [c for c in source.columns if c not in keys]
    if order_col is not None:
        if not source.where(null_pred).isEmpty():
            raise ValidationError(
                f"merge: source key column(s) {keys!r} contain NULL — "
                "NULL never equals a target key, so the row could "
                "neither match nor be looked up again"
            )
        if order_col not in others:
            raise ValidationError(
                f"merge: order_col {order_col!r} must be a non-key "
                "source column"
            )
        rest = [c for c in others if c != order_col]
        picked = source.groupBy(*keys).agg(
            F.max(F.struct(order_col, *rest)).alias("_w")
        )
        return picked.select(*keys, *[f"_w.{c}" for c in others]), None
    head = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.sum("_c").alias("n"),
            F.max("_c").alias("mx"),
            F.max(
                F.when(null_pred, F.lit(1)).otherwise(F.lit(0))
            ).alias("has_null"),
        )
        .first()
    )
    if head.n is None:  # empty source: nothing to validate
        return source, 0
    if head.has_null:
        raise ValidationError(
            f"merge: source key column(s) {keys!r} contain NULL — "
            "NULL never equals a target key, so the row could "
            "neither match nor be looked up again"
        )
    if int(head.mx) > 1:
        # error path only: re-derive one offending key for the message
        dup = (
            source.groupBy(*keys)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        key_repr = ", ".join(f"{k}={dup[0][k]!r}" for k in keys)
        raise ValidationError(
            f"merge: duplicate source key ({key_repr}); pass "
            "order_col to resolve in-source conflicts by LWW"
        )
    return source, int(head.n)


def _envelope_guard(
    commit, member: str, planned: set[str], preds: dict
):
    """Entry guard closing the prune-to-commit race: the merge family
    prunes files from one snapshot, but ``rewrite_files``' conflict
    check covers only the REPLACED files — a concurrent append whose
    rows match the key envelope would land between prune and commit
    and survive untouched, leaving duplicate keys after a merge (or
    undeleted rows after a delete). The guard runs inside the
    optimistic-commit loop against the exact entry the commit lands
    on: any file not in the planning snapshot whose stats MAY overlap
    the envelope raises ``RewriteConflictError`` (retry re-plans on
    fresh state and reaches the new file). Files without stats are
    treated as overlapping — conservative, matching ``prune_files``.
    This is the Delta WriteSerializable merge/append conflict rule;
    appends provably OUTSIDE the envelope still land untouched."""
    from redis_lsm_timeseries_spark.errors import RewriteConflictError

    sorted_sets = commit._sorted_sets(preds)

    def guard(prev):
        stats = prev.get("stats", {}).get(member, {})
        hits = [
            f
            for f in prev.get("tables", {}).get(member, [])
            if f not in planned
            and commit._stats_may_match(stats.get(f), preds, sorted_sets)
        ]
        if hits:
            raise RewriteConflictError(
                f"merge/delete key envelope conflicts with "
                f"{len(hits)} file(s) committed since planning "
                f"(first: {hits[0]}); retry on fresh state"
            )

    return guard


#: auto mode: positions-delete when the matched fraction of the
#: affected files' live rows is at or below this; past it a
#: copy-on-write rewrite produces tighter files for the same scan.
DV_AUTO_MAX_FRACTION = 0.2


def _dv_guard(commit, member: str, expected: dict):
    """CAS on each target file's CURRENT deletion-vector reference:
    the positions this commit unioned were computed against the DV it
    saw at planning time — a concurrent DV attach to the same file
    means the union is stale (it would silently drop the racer's
    deletes). Runs inside the optimistic-commit loop like the
    envelope guard; the caller retries on fresh state."""
    from redis_lsm_timeseries_spark.errors import RewriteConflictError

    def guard(prev):
        stats = prev.get("stats", {}).get(member, {})
        for f, exp in expected.items():
            cur = ((stats.get(f) or {}).get("dv") or {}).get("path")
            if cur != exp:
                raise RewriteConflictError(
                    f"deletion vector of {f} changed since planning "
                    f"({exp!r} -> {cur!r}); a concurrent row-level "
                    "delete landed — retry on fresh state"
                )

    return guard


def _apply_dv_delete(
    host, commit, path: str, root: str, member: str, smeta: dict,
    affected: list[str], matched: DataFrame, stats: dict,
    envelope_guard, extra_guard=None,
    staged_write=None, cdf_override: DataFrame | None = None,
) -> int:
    """Land a positions-delete (merge-on-read) commit: ``matched``
    carries the rows to delete in the LOGICAL view plus their
    physical coordinates (``__dv_file``/``__dv_pos`` from
    ``scan_member_subset(keep_pos=True)`` — already filtered through
    the files' current DVs, so the new positions are disjoint from
    the old). Writes ONE superseding blob holding each touched file's
    full position union, drops files whose every physical row is now
    deleted, stages the deleted rows as CDF, and commits everything
    (plus ``staged_write``'s new files, for merge-on-read upserts) in
    one atomic entry guarded by the key envelope AND a per-file DV
    CAS. Returns the number of files whose DV changed or that were
    dropped. At 100 TB: a delete touching k rows of n large files
    costs O(k) positions written + one O(change) log entry — no data
    file is rewritten."""
    matched = materialize(matched, "merge.dv_matched")
    new_counts = {
        r["__dv_file"]: r["n"]
        for r in matched.groupBy("__dv_file")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not new_counts and staged_write is None:
        return 0
    touched = sorted(new_counts)
    base = commit._member_root(root, member)
    old_dv = {
        f: (stats.get(f) or {}).get("dv")
        for f in touched
        if (stats.get(f) or {}).get("dv")
    }
    new_rows = matched.select(
        F.col("__dv_file").alias("file"),
        F.col("__dv_pos").alias("pos"),
    )
    if old_dv:
        new_rows = new_rows.unionByName(
            commit.dv_positions(host, base, old_dv)
        )
    totals = dict(new_counts)
    for f, d in old_dv.items():
        totals[f] += int(d.get("count", 0))
    rows_of = {
        f: (stats.get(f) or {}).get("rows") for f in touched
    }
    dead = [
        f for f in touched
        if rows_of[f] is not None and totals[f] >= int(rows_of[f])
    ]
    live_dvd = [f for f in touched if f not in set(dead)]
    overlay = {}
    if live_dvd:
        blob = commit.stage_dv(
            host, path, new_rows.where(F.col("file").isin(live_dvd))
        )
        # overlay ONLY the dv field (r15, ADVICE): the rest of the
        # stats block is taken from the entry the commit lands on,
        # so a concurrent backfill_file_stats restat of a touched
        # file (rows/cols landed between planning and commit) is
        # never clobbered back to plan-time values
        overlay = {
            f: {"dv": {"path": blob, "count": int(totals[f])}}
            for f in live_dvd
        }
    expected = {
        f: (old_dv.get(f) or {}).get("path") for f in touched
    }
    # the commit's row-level change view: a plain delete announces
    # the matched rows; a merge (cdf_override) announces its own
    # clause accounting (upserts, clause deletes) instead — the
    # DV'd positions of UPDATED rows are not deletes to a mirror
    cdf = (
        cdf_override
        if cdf_override is not None
        else matched.drop("__dv_file", "__dv_pos").withColumn(
            commit.CDF_TYPE_COL, F.lit("delete")
        )
    )
    cdf = _cdf_sized(
        _physical_out(commit, host, root, member, cdf, smeta),
        sum(new_counts.values()) or 1,
    )
    commit.rewrite_files(
        host, path, dead, staged_write,
        restat_overlay=overlay, cdf_df=cdf,
        entry_guard=_compose_guards(
            envelope_guard,
            _dv_guard(commit, member, expected),
            extra_guard,
        ),
    )
    return len(touched)


def _mapping_ctx(commit, host, path: str):
    """Schema-mapping context for a manifest member (r14: row-level
    rewrites work THROUGH the column mapping instead of refusing):
    ``(smeta, phys)`` where ``smeta`` is the member's logical-view
    metadata ({} unmapped) and ``phys`` translates a logical column
    name to its stable physical name (identity when unmapped).
    Physical names are immutable under rename — rename only updates
    the logical mapping — so a rename landing between planning and
    commit never invalidates a physically-translated plan."""
    smeta = commit.schema_meta(host, path)
    pmap = smeta.get("map", {})
    return smeta, (lambda c: pmap.get(c, c))


def _physical_out(commit, host, root: str, member: str, df, smeta):
    """Logical plan output -> physical write shape on a mapped member
    (rename to stable physical names, store widened columns at the
    widened type — the same translation appends use); identity when
    unmapped. Applied to replacement files AND the CDF rows, so both
    follow the member's one storage convention (physical names) and
    ``read_row_changes`` serves them through its one logical-view
    assembly."""
    if not smeta:
        return df
    return commit._to_physical(host, root, member, df)


def _cdf_sized(df: DataFrame, approx_rows: int) -> DataFrame:
    """Size a change-file write to its delta: ~1M rows per file,
    capped — a small merge stays one tiny self-expiring file, a bulk
    backfill's change set fans out instead of funneling through one
    task."""
    n = max(1, min(32, int(approx_rows) // 1_000_000 + 1))
    return df.coalesce(n)


def _compose_guards(*guards):
    """One entry guard running each non-None guard in order —
    callers stack the key-envelope conflict check with their own CAS
    (the keyed mirror guards its data-mutating commits on the
    consumer cursor, so a racing consumer conflicts BEFORE mutating
    the destination, not only at its trailing cursor commit)."""
    live = [g for g in guards if g is not None]

    def guard(prev):
        for g in live:
            g(prev)

    return guard


def _affected_df(
    host, commit, path: str, files: list[str],
    smeta: dict | None = None, plan: dict | None = None,
) -> DataFrame:
    """The affected files as a DataFrame — the LOGICAL view on a
    schema-mapped member (widen-forced physical scan, then the
    inverse rename), so the merge clauses and key joins run on the
    same column names the caller's source carries. Routes through the
    DV-aware subset scan (r14): a rewrite planned over a file with a
    deletion vector must not resurrect the positions it deleted.
    ``plan`` (r15) captures the scan's per-file DV state for the
    commit's ``plan_dv`` CAS."""
    return commit.scan_member_subset(
        host, path, files, logical=True, plan=plan
    )


def partition_cols_of(files: list[str]) -> list[str]:
    """Hive partition column names encoded in a member file's
    subpath (``tag=x/part_start=0/part-....parquet`` -> [tag,
    part_start]); [] for an unpartitioned member. Replacement writes
    MUST reproduce the layout — a file committed at a different depth
    would corrupt partition discovery for the whole member."""
    if not files:
        return []
    segs = files[0].split("/")[:-1]
    return [s.split("=", 1)[0] for s in segs if "=" in s]


def _clustered_write(
    out: DataFrame,
    keys: list[str],
    n_files: int,
    partition_cols: list[str] | None = None,
):
    """Replacement-file writer: range-clustered on the key so each
    file covers a contiguous key band and its manifest stats prune
    the NEXT merge as tightly as this one. Hive-partitioned members
    keep their directory layout (``partition_cols``).

    Single-file outputs skip ``repartitionByRange``: with one target
    partition the range boundaries are vacuous, but Spark still runs
    the range-sampling pass as its own job re-executing the whole
    child plan (r18, guide §1.2). ``coalesce(1)`` + the within-
    partition sort produces the identical one sorted file."""
    if max(1, n_files) == 1:
        clustered = out.coalesce(1).sortWithinPartitions(*keys)
    else:
        # materialize once (lazily — the closure may never run): the
        # range-sampling pass otherwise re-executes the child plan (the
        # full merge/delete output subtree) and the write re-executes
        # it AGAIN (r17 IVF-build pattern, guide §2.3). The checkpoint
        # is the replacement files' own content, already bounded.
        clustered = (
            materialize(out, "merge.clustered_output")
            .repartitionByRange(n_files, *keys)
            .sortWithinPartitions(*keys)
        )

    def write(tmp):
        w = clustered.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(tmp)

    return write


#: the canonical single-clause shape every fast path keys on
_DEFAULT_CLAUSES = [("update", "*", None)]


def _norm_matched_clauses(when_matched, matched_condition):
    """Normalize the WHEN MATCHED surface to an ordered clause list
    ``[(action, sets, cond)]`` — ``action`` is ``'update'`` or
    ``'delete'``, ``sets`` is ``'*'`` (replace the matched target row
    with the source row) or a ``{col: sql_expr}`` dict (column-level
    SET over aliases ``t``/``s``; unset columns keep TARGET values),
    ``cond`` a SQL condition string or None.

    Accepted ``when_matched`` forms: the legacy scalars (``'update'``
    / ``'delete'`` / None, with ``matched_condition`` as the one
    condition), or an ORDERED list of clause tuples (r17, Delta's
    multi-clause MERGE): each tuple starts with the action, followed
    in any order by at most one sets spec (a dict or ``'*'``) and at
    most one condition string. First-matching-clause-wins per matched
    pair; only the LAST clause may omit its condition (an earlier
    unconditional clause would make every later one unreachable —
    the Delta rule, enforced loudly)."""
    if when_matched is None or isinstance(when_matched, str):
        if when_matched is None:
            return []
        if when_matched not in ("update", "delete"):
            raise ValidationError(
                f"merge: when_matched must be 'update', 'delete', "
                f"None or a clause list, got {when_matched!r}"
            )
        sets = "*" if when_matched == "update" else None
        return [(when_matched, sets, matched_condition)]
    if matched_condition is not None:
        raise ValidationError(
            "merge: with a when_matched clause LIST, conditions go "
            "inside each clause tuple — matched_condition must be "
            "None"
        )
    clauses = []
    for item in when_matched:
        if isinstance(item, str):
            item = (item,)
        if not isinstance(item, (tuple, list)) or not item:
            raise ValidationError(
                f"merge: each when_matched clause is a tuple "
                f"(action[, sets][, condition]), got {item!r}"
            )
        action, sets, cond = item[0], None, None
        seen_sets = seen_cond = False
        if action not in ("update", "delete"):
            raise ValidationError(
                f"merge: clause action must be 'update' or "
                f"'delete', got {action!r}"
            )
        for el in item[1:]:
            if isinstance(el, dict) or el == "*":
                if seen_sets:
                    raise ValidationError(
                        f"merge: clause {item!r} has two sets specs"
                    )
                sets, seen_sets = el, True
            elif el is None or isinstance(el, str):
                if seen_cond:
                    raise ValidationError(
                        f"merge: clause {item!r} has two conditions"
                    )
                cond, seen_cond = el, True
            else:
                raise ValidationError(
                    f"merge: clause element {el!r} is neither a "
                    "sets dict, '*', nor a condition string"
                )
        if action == "delete":
            if seen_sets:
                raise ValidationError(
                    "merge: a 'delete' clause takes no sets spec"
                )
        else:
            if sets is None:
                sets = "*"
            if isinstance(sets, dict) and not sets:
                raise ValidationError(
                    "merge: an 'update' clause's sets dict needs "
                    "at least one column"
                )
        clauses.append((action, sets, cond))
    for i, (_, _, cond) in enumerate(clauses[:-1]):
        if cond is None:
            raise ValidationError(
                f"merge: when_matched clause {i + 1} of "
                f"{len(clauses)} has no condition — every clause "
                "after it would be unreachable (only the LAST "
                "clause may omit its condition)"
            )
    return clauses


def _norm_by_source_clauses(not_matched_by_source):
    """Normalize the WHEN NOT MATCHED BY SOURCE surface (r17 — the
    third Delta clause family: target rows with NO source match).
    Same ordered-tuple shape as ``when_matched``, two extra rules:
    an update's sets must be an explicit ``{col: expr}`` dict
    (``'*'`` would mean "replace with the source row", and there IS
    no source row), and neither sets expressions nor conditions may
    reference the ``s`` alias — every source column is NULL on an
    unmatched row, so a reference is a bug, not a value."""
    if not not_matched_by_source:
        return []
    clauses = _norm_matched_clauses(not_matched_by_source, None)
    for action, sets, cond in clauses:
        if sets == "*":
            raise ValidationError(
                "merge: a NOT MATCHED BY SOURCE update needs an "
                "explicit {col: expr} sets dict — there is no "
                "source row to replace with"
            )
        for label, text in (
            ("condition", cond),
            *(
                (f"SET {c}", e)
                for c, e in (sets or {}).items()
            ),
        ):
            if text is not None and _refs_source_alias(text):
                raise ValidationError(
                    f"merge: NOT MATCHED BY SOURCE {label} {text!r} "
                    "references the source alias 's' — every source "
                    "column is NULL on an unmatched target row"
                )
    return clauses


def _refs_source_alias(text: str) -> bool:
    """True when ``text`` contains a qualified ``s.`` reference
    outside string literals."""
    import re

    from redis_lsm_timeseries_spark.sqltext import (
        MASK_CHAR,
        mask_literals,
    )

    mask = mask_literals(text)
    return any(
        MASK_CHAR not in mask[m.start() : m.end()]
        for m in re.finditer(r"(?i)\bs\s*\.", text)
    )


def _strip_target_alias(text: str) -> str:
    """Drop qualified ``t.`` prefixes outside literals —
    ``_predicate_envelope`` parses bare column names."""
    import re

    from redis_lsm_timeseries_spark.sqltext import (
        MASK_CHAR,
        mask_literals,
    )

    mask = mask_literals(text)
    pat = re.compile(r"(?i)\bt\s*\.")

    def repl(m):
        if MASK_CHAR in mask[m.start() : m.end()]:
            return m.group(0)
        return ""

    return pat.sub(repl, text)


def _clause_index(clauses, matched, ns_clauses=()):
    """First-matching-clause-wins column: the 0-based index of the
    first clause whose condition holds for this (t, s) pair, NULL if
    none applies (the target row survives verbatim). Matched clauses
    take indices 0..m-1 gated on ``matched``; NOT MATCHED BY SOURCE
    clauses (r17) take m..m+k-1 gated on ``~matched`` — disjoint
    predicates, so one when-chain covers both families. Null-safe: a
    condition evaluating to NULL means "clause does not apply" —
    never "row vanishes"."""
    idx = None
    gated = [(matched, c) for c in clauses] + [
        (~matched, c) for c in ns_clauses
    ]
    for i, (gate, (_, _, cond)) in enumerate(gated):
        c = F.coalesce(
            gate
            & (F.expr(cond) if cond is not None else F.lit(True)),
            F.lit(False),
        )
        idx = F.when(c, F.lit(i)) if idx is None else idx.when(
            c, F.lit(i)
        )
    return idx


def _clause_update_proj(sets, cols, keys):
    """The output projection of one 'update' clause over the joined
    (t, s) pair: ``'*'`` replaces the row with the source row;
    a sets dict recomputes exactly the SET columns (expressions see
    BOTH pre-update aliases — ``t`` the target row, ``s`` the source
    row) and keeps every other column from the TARGET, the SQL
    column-level UPDATE contract."""
    if sets == "*":
        return [F.col(f"s.{c}").alias(c) for c in cols]
    return [
        (
            F.expr(sets[c]).alias(c)
            if c in sets
            else F.col(f"t.{c}").alias(c)
        )
        for c in cols
    ]


def _merge_outputs(
    cur: DataFrame,
    src: DataFrame,
    keys: list[str],
    clauses: list,
    insert_unmatched: bool,
    not_matched_condition: str | None,
    ns_clauses: list = (),
):
    """(surviving-rows DataFrame, applied-upserts DataFrame,
    deleted-rows DataFrame) for the ORDERED merge clause list over
    the affected target slice ``cur`` (see ``_norm_matched_clauses``
    for the clause shape). Conditions and column-level SET
    expressions are SQL strings over aliases ``t`` (target row) and
    ``s`` (source row), evaluated per matched pair — the Delta
    ``whenMatched(condition)`` surface with first-match-wins across
    clauses. The default clause set (update-all-matched,
    insert-all-unmatched, no conditions) reduces to the classic
    anti-join + union plan."""
    from functools import reduce

    cols = src.columns
    deleted = None
    if clauses == _DEFAULT_CLAUSES and not ns_clauses:
        if insert_unmatched and not_matched_condition is None:
            # the classic plan: every source row lands, one anti-join
            out = cur.join(
                src.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(src)
            return out, src, None
        survivors = cur.join(
            src.select(*keys).distinct(), keys, "left_anti"
        )
        tkeys = cur.select(*keys).distinct()
        applied = src.join(tkeys, keys, "left_semi")
        inserts = src.join(tkeys, keys, "left_anti")
    elif not clauses and not ns_clauses:
        # no matched clause: every target row survives verbatim
        survivors = cur
        applied = None
        inserts = src.join(
            cur.select(*keys).distinct(), keys, "left_anti"
        )
    else:
        t, s = cur.alias("t"), src.alias("s")
        on = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
        )
        joined = t.join(s, on, "left")
        matched = F.col(f"s.{keys[0]}").isNotNull()
        marked = joined.withColumn(
            "__mrg_c", _clause_index(clauses, matched, ns_clauses)
        )
        t_cols = [F.col(f"t.{c}").alias(c) for c in cols]
        survivors = marked.where(
            F.col("__mrg_c").isNull()
        ).select(*t_cols)
        upd_parts, del_parts = [], []
        for i, (action, sets, _) in enumerate(
            list(clauses) + list(ns_clauses)
        ):
            rows_i = marked.where(F.col("__mrg_c") == i)
            if action == "delete":
                del_parts.append(rows_i.select(*t_cols))
            elif sets == "*":
                # replace semantics: duplicate target keys collapse
                # to the one source row (the key-replace contract)
                upd_parts.append(
                    rows_i.select(
                        *_clause_update_proj(sets, cols, keys)
                    ).dropDuplicates(keys)
                )
            else:
                # column-level SET: each matched target row updates
                # independently (unset columns keep ITS values)
                upd_parts.append(
                    rows_i.select(
                        *_clause_update_proj(sets, cols, keys)
                    )
                )
        applied = (
            reduce(lambda a, b: a.unionByName(b), upd_parts)
            if upd_parts
            else None
        )
        deleted = (
            reduce(lambda a, b: a.unionByName(b), del_parts)
            if del_parts
            else None
        )
        inserts = src.join(
            cur.select(*keys).distinct(), keys, "left_anti"
        )
    if insert_unmatched:
        if not_matched_condition is not None:
            inserts = inserts.alias("s").where(
                F.expr(not_matched_condition)
            )
    else:
        inserts = None
    parts = [p for p in (survivors, applied, inserts) if p is not None]
    out = reduce(lambda a, b: a.unionByName(b), parts)
    ups = [p for p in (applied, inserts) if p is not None]
    upserts = (
        reduce(lambda a, b: a.unionByName(b), ups) if ups else None
    )
    return out, upserts, deleted


def _merge_dv_outputs(
    cur: DataFrame,
    src: DataFrame,
    keys: list[str],
    clauses: list,
    insert_unmatched: bool,
    not_matched_condition: str | None,
    ns_clauses: list = (),
):
    """Merge-on-read clause plan over the affected slice ``cur``
    (logical columns + ``__dv_file``/``__dv_pos``): ``(dead, append,
    upserts, deleted)`` where ``dead`` is the matched target rows the
    clauses replace or erase (their positions feed the deletion
    vector), ``append`` the rows to land as NEW files, and
    ``upserts``/``deleted`` the row-level change accounting — the same
    ordered first-match-wins clause semantics as ``_merge_outputs``,
    minus the survivor rewrite: survivors simply stay where they are.
    A column-level UPDATE clause deletion-vectors the old position
    and appends the recomputed row — O(matched rows) either way."""
    from functools import reduce

    cols = src.columns
    pos = ["__dv_file", "__dv_pos"]
    if clauses == _DEFAULT_CLAUSES and not ns_clauses:
        dead = cur.join(src.select(*keys).distinct(), keys, "left_semi")
        if insert_unmatched and not_matched_condition is None:
            return dead, src, src, None
        tkeys = cur.select(*keys).distinct()
        applied = src.join(tkeys, keys, "left_semi")
        if insert_unmatched:
            inserts = src.join(tkeys, keys, "left_anti")
            if not_matched_condition is not None:
                inserts = inserts.alias("s").where(
                    F.expr(not_matched_condition)
                )
            append = applied.unionByName(inserts)
        else:
            append = applied
        return dead, append, append, None
    if not clauses and not ns_clauses:
        if not insert_unmatched:
            return cur.limit(0), None, None, None
        inserts = src.join(
            cur.select(*keys).distinct(), keys, "left_anti"
        )
        if not_matched_condition is not None:
            inserts = inserts.alias("s").where(
                F.expr(not_matched_condition)
            )
        return cur.limit(0), inserts, inserts, None
    t, s = cur.alias("t"), src.alias("s")
    on = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
    )
    joined = t.join(s, on, "left")
    matched = F.col(f"s.{keys[0]}").isNotNull()
    marked = joined.withColumn(
        "__mrg_c", _clause_index(clauses, matched, ns_clauses)
    )
    t_cols = [F.col(f"t.{c}").alias(c) for c in cols]
    t_pos_cols = t_cols + [F.col(f"t.{p}").alias(p) for p in pos]
    dead = marked.where(F.col("__mrg_c").isNotNull()).select(
        *t_pos_cols
    )
    upd_parts, del_parts = [], []
    for i, (action, sets, _) in enumerate(
        list(clauses) + list(ns_clauses)
    ):
        rows_i = marked.where(F.col("__mrg_c") == i)
        if action == "delete":
            del_parts.append(rows_i.select(*t_cols))
        elif sets == "*":
            upd_parts.append(
                rows_i.select(*_clause_update_proj(sets, cols, keys))
                .dropDuplicates(keys)
            )
        else:
            upd_parts.append(
                rows_i.select(*_clause_update_proj(sets, cols, keys))
            )
    applied = (
        reduce(lambda a, b: a.unionByName(b), upd_parts)
        if upd_parts
        else None
    )
    deleted = (
        reduce(lambda a, b: a.unionByName(b), del_parts)
        if del_parts
        else None
    )
    inserts = None
    if insert_unmatched:
        inserts = src.join(
            cur.select(*keys).distinct(), keys, "left_anti"
        )
        if not_matched_condition is not None:
            inserts = inserts.alias("s").where(
                F.expr(not_matched_condition)
            )
    parts = [p for p in (applied, inserts) if p is not None]
    append = None
    if parts:
        append = parts[0]
        for p in parts[1:]:
            append = append.unionByName(p)
    return dead, append, append, deleted


def merge_into(
    host,
    path: str,
    source: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    commit=None,
    target_files: int | None = None,
    when_matched="update",
    matched_condition: str | None = None,
    insert_unmatched: bool = True,
    not_matched_condition: str | None = None,
    not_matched_by_source=None,
    extra_guard=None,
    mode: str = "rewrite",
) -> MergeStats:
    """Upsert ``source`` into the table at ``path``: target rows whose
    ``keys`` match a source row are REPLACED by it, unmatched source
    rows are inserted, every other target row is untouched — and on a
    manifest backend, every file the key envelope cannot reach is
    untouched as a FILE (carried forward in the log entry, never read).

    The Delta MERGE clause surface (r12; ordered multi-clause +
    column-level SET r17):

    - ``when_matched``: ``"update"`` (default — replace the matched
      target row with the source row), ``"delete"`` (erase it),
      None (leave matched targets untouched), or an ORDERED clause
      list ``[(action[, sets][, condition]), ...]`` — ``action`` is
      ``'update'``/``'delete'``, ``sets`` is ``'*'`` (replace with
      the source row, the default) or ``{col: sql_expr}``
      (column-level SET: expressions see the PRE-update aliases
      ``t``/``s``, unset columns keep the target row's values), and
      per matched pair the FIRST clause whose condition holds
      applies (the Delta multi-clause contract; only the last clause
      may omit its condition). A soft-delete upsert is
      ``[("delete", "s.deleted"), ("update", {"v": "s.v + t.v"})]``;
    - ``matched_condition``: SQL over aliases ``t`` (target) and
      ``s`` (source), e.g. ``"s.ver > t.ver"`` — the legacy
      single-clause condition (``WHEN MATCHED AND <cond> THEN ...``);
      with a clause LIST, conditions go inside the tuples instead;
    - ``insert_unmatched`` / ``not_matched_condition``: ``WHEN NOT
      MATCHED [AND <cond over s>] THEN INSERT``;
    - ``not_matched_by_source`` (r17 — the third Delta clause
      family): an ordered clause list applied to TARGET rows with NO
      source match — ``[("delete", cond), ("update", {col: expr},
      cond)]``; sets must be explicit dicts and neither sets nor
      conditions may reference ``s`` (every source column is NULL on
      an unmatched row). An empty source with a by-source DELETE
      erases everything the conditions reach — the Delta
      sync-deletions shape.

    File-pruning posture: matched/insert clauses touch only files the
    KEY envelope may reach. By-source clauses can reach any row, so
    their presence widens the affected set — to the union of the key
    envelope and each by-source condition's stats envelope when every
    condition is envelope-expressible (a ``t.ts < X`` sweep touches
    O(band files)), else to the whole member; the conflict guard
    widens identically (any-append when unbounded).

    ``mode`` picks the physical strategy on a manifest backend
    (r14, the Delta merge-on-read idiom): ``"rewrite"`` (default)
    replaces the affected files copy-on-write; ``"dv"`` deletion-
    vectors the matched target rows' positions and APPENDS only the
    applied rows as new files — an upsert matching k rows across huge
    files writes O(k), never a survivor rewrite; ``"auto"`` picks
    ``"dv"`` when the matched fraction of the affected files' live
    rows is at most ``DV_AUTO_MAX_FRACTION``. Row-level change
    accounting is identical in every mode.

    ``host`` is anything store-shaped (``CommitHost``, a
    ``TimeseriesStore``). The source schema must equal the target's
    column set. Returns ``MergeStats``; raises
    ``RewriteConflictError`` if a concurrent rewrite replaced an
    affected file first (retry on fresh state)."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    if mode not in ("rewrite", "dv", "auto"):
        raise ValidationError(
            f"merge: mode must be 'rewrite', 'dv' or 'auto', "
            f"got {mode!r}"
        )
    commit = commit if commit is not None else ManifestCommit()
    clauses = _norm_matched_clauses(when_matched, matched_condition)
    ns_clauses = _norm_by_source_clauses(not_matched_by_source)
    src, n_upserts = _resolve_source_counted(source, keys, order_col)
    for _, sets, _c in list(clauses) + list(ns_clauses):
        if isinstance(sets, dict):
            bad = set(sets) - set(src.columns)
            if bad:
                raise ValidationError(
                    f"merge: SET column(s) {sorted(bad)} not in "
                    f"{sorted(src.columns)}"
                )
    if n_upserts is None:  # order_col path: count the collapsed frame
        n_upserts = src.count()
    if n_upserts == 0 and not ns_clauses:
        # with by-source clauses an EMPTY source is meaningful (every
        # target row is unmatched); without them, nothing can happen
        total = commit.table_file_count(host, path)
        return MergeStats(0, total, 0)

    managed = (
        commit.member_files(host, path)
        if isinstance(commit, ManifestCommit)
        else None
    )
    if managed is None:
        if mode == "dv":
            raise ValidationError(
                "merge: mode='dv' needs a manifest-managed table — "
                "deletion vectors live in per-file stats, which "
                "directory mode does not record"
            )
        # directory mode: same semantics, whole-table rewrite
        cur = commit.read_table(host, path, None)
        _check_columns(cur, src, path)
        cur = cur.select(*src.columns)
        out, _, _ = _merge_outputs(
            cur, src, keys, clauses,
            insert_unmatched, not_matched_condition, ns_clauses,
        )
        n = target_files or out.sparkSession.sparkContext.defaultParallelism
        commit.snapshot_rewrite(
            host, path, _clustered_write(out, keys, n)
        )
        return MergeStats(-1, -1, n_upserts)

    root, member = commit._resolve(host, path)
    smeta, phys = _mapping_ctx(commit, host, path)
    total = len(managed)
    pcols = partition_cols_of(managed)
    probe_schema = None
    if managed:
        # name AND type enforcement against the member's logical
        # schema (one-file probe, plan-only) — covers the insert-only
        # branch too, which writes source-typed files verbatim
        probe = _affected_df(host, commit, path, managed[:1], smeta)
        _check_columns(probe, src, path, exempt=pcols)
        # the probe already paid the schema-inference job — every
        # later scan of the SAME member reuses its schema instead of
        # re-inferring (one driver job per scan, r18 guide §1.2)
        probe_schema = probe.schema
    preds = _key_predicates(src, keys)
    affected, _ = (
        commit.prune_files(host, path, preds)
        if n_upserts
        else ([], len(managed))
    )
    # the envelope guard compares against per-file stats, which are
    # recorded under PHYSICAL names — translate the logical envelope
    # (prune_files translates internally; the guard takes it raw)
    gpreds = {phys(c): b for c, b in preds.items()}
    pkeys = [phys(k) for k in keys]
    guards = []
    if n_upserts:
        guards.append(
            _envelope_guard(
                commit, member, set(managed) | set(affected), gpreds
            )
        )
    if ns_clauses:
        # by-source clauses reach rows no source key names: widen the
        # affected set to the union of each condition's stats
        # envelope (prune_files), or the whole member when any
        # condition is unbounded/unparseable — and widen the conflict
        # guard identically (a concurrent append's rows are by
        # definition unmatched-by-source)
        from redis_lsm_timeseries_spark.operators.dml import (
            _any_append_guard,
            _predicate_envelope,
        )

        ns_envs: list | None = []
        for _a, _s, cond in ns_clauses:
            env = (
                _predicate_envelope(_strip_target_alias(cond))
                if cond is not None
                else None
            )
            if not env:
                ns_envs = None
                break
            ns_envs.append(env)
        if ns_envs is None:
            affected = list(managed)
            guards.append(
                _any_append_guard(commit, member, set(managed))
            )
        else:
            ns_files = set(affected)
            for env in ns_envs:
                kept, _t = commit.prune_files(host, path, env)
                ns_files |= set(kept)
            affected = sorted(ns_files)
            for env in ns_envs:
                guards.append(
                    _envelope_guard(
                        commit, member,
                        set(managed) | set(affected),
                        {phys(c): b for c, b in env.items()},
                    )
                )
    guard = _compose_guards(*guards, extra_guard)
    if not affected:
        # no file can contain a matched key: only the NOT MATCHED
        # clause applies
        if not insert_unmatched:
            return MergeStats(0, total, 0)
        ins = src
        if not_matched_condition is not None:
            ins = src.alias("s").where(F.expr(not_matched_condition))
        n_ins = ins.count()
        if n_ins == 0:
            return MergeStats(0, total, 0)
        cdf = _cdf_sized(
            _physical_out(
                commit, host, root, member,
                ins.withColumn(commit.CDF_TYPE_COL, F.lit("upsert")),
                smeta,
            ),
            n_ins,
        )
        commit.rewrite_files(
            host, path, [],
            _clustered_write(
                _physical_out(commit, host, root, member, ins, smeta),
                pkeys, target_files or 1, pcols,
            ),
            entry_guard=guard, cdf_df=cdf,
        )
        return MergeStats(0, total, n_ins)

    default_clauses = (
        clauses == _DEFAULT_CLAUSES
        and not ns_clauses
        and insert_unmatched
        and not_matched_condition is None
    )
    if mode in ("dv", "auto"):
        entry = commit._load_entry(host, path, root, None)
        fstats = entry.get("stats", {}).get(member, {})
        cur_pos = commit.scan_member_subset(
            host, path, affected, keep_pos=True, schema=probe_schema
        ).select(*src.columns, "__dv_file", "__dv_pos")
        dead, append, ups_dv, del_dv = _merge_dv_outputs(
            cur_pos, src, keys, clauses,
            insert_unmatched, not_matched_condition, ns_clauses,
        )
        use_dv = mode == "dv"
        if not use_dv:
            live = 0
            for f in affected:
                s = fstats.get(f)
                rows = None if s is None else s.get("rows")
                if rows is None:
                    live = None
                    break
                live += int(rows) - int(
                    (s.get("dv") or {}).get("count", 0)
                )
            use_dv = (
                live is not None
                and live > 0
                and dead.count() <= DV_AUTO_MAX_FRACTION * live
            )
        if use_dv:
            n_applied = (
                n_upserts if default_clauses
                else (ups_dv.count() if ups_dv is not None else 0)
            )
            cdf_parts = []
            if ups_dv is not None and n_applied:
                cdf_parts.append(
                    ups_dv.withColumn(
                        commit.CDF_TYPE_COL, F.lit("upsert")
                    )
                )
            if del_dv is not None:
                cdf_parts.append(
                    del_dv.withColumn(
                        commit.CDF_TYPE_COL, F.lit("delete")
                    )
                )
            cdf_over = None
            if cdf_parts:
                cdf_over = cdf_parts[0]
                for p in cdf_parts[1:]:
                    cdf_over = cdf_over.unionByName(p)
            staged = (
                _clustered_write(
                    _physical_out(
                        commit, host, root, member, append, smeta
                    ),
                    pkeys, target_files or max(1, len(affected)), pcols,
                )
                if append is not None and n_applied
                else None
            )
            if staged is None and cdf_over is None:
                return MergeStats(0, total, 0)
            n_files = _apply_dv_delete(
                host, commit, path, root, member, smeta,
                affected, dead, fstats, guard,
                staged_write=staged, cdf_override=cdf_over,
            )
            return MergeStats(n_files, total, n_applied)
    plan: dict = {}
    cur = commit.scan_member_subset(
        host, path, affected, logical=True, plan=plan,
        schema=probe_schema,
    )
    cur = cur.select(*src.columns)  # checked against the probe above
    out, upserts, deleted = _merge_outputs(
        cur, src, keys, clauses,
        insert_unmatched, not_matched_condition, ns_clauses,
    )
    # rows_upserted must report the rows the clauses ACTUALLY applied:
    # a conditional update that filtered most pairs, or a matched
    # delete, applies far fewer (or zero) rows than the source offered
    n_applied = (
        n_upserts if default_clauses
        else (upserts.count() if upserts is not None else 0)
    )
    # row-level change feed: the rows the clauses actually applied —
    # staged as typed change files in the same atomic commit, so
    # incremental consumers (mirror_changes with keys) apply the merge
    # as O(delta) instead of full-resyncing
    cdf_parts = []
    if upserts is not None:
        cdf_parts.append(
            upserts.withColumn(commit.CDF_TYPE_COL, F.lit("upsert"))
        )
    if deleted is not None:
        cdf_parts.append(
            deleted.withColumn(commit.CDF_TYPE_COL, F.lit("delete"))
        )
    cdf = None
    if cdf_parts:
        cdf = cdf_parts[0]
        for p in cdf_parts[1:]:
            cdf = cdf.unionByName(p)
        cdf = _cdf_sized(
            _physical_out(commit, host, root, member, cdf, smeta),
            n_applied if not default_clauses else n_upserts,
        )
    n = target_files or len(affected)
    commit.rewrite_files(
        host, path, affected,
        _clustered_write(
            _physical_out(commit, host, root, member, out, smeta),
            pkeys, n, pcols,
        ),
        entry_guard=guard, cdf_df=cdf, plan_dv=plan["dv"],
    )
    return MergeStats(len(affected), total, n_applied)


def delete_rows(
    host,
    path: str,
    delete_keys: DataFrame,
    keys: list[str],
    commit=None,
    extra_guard=None,
    mode: str = "rewrite",
) -> DeleteStats:
    """Row-level delete by key set — the GDPR-erasure primitive: files
    whose stats prove no key matches are never read or rewritten; a
    file whose every row matches is dropped with no replacement. Same
    conflict + fallback posture as ``merge_into``. Idempotent: keys
    already absent delete zero rows.

    ``mode`` picks the physical strategy on a manifest backend:

    - ``"rewrite"`` (default) — copy-on-write: affected files are
      rewritten without the matched rows (tight files, full IO);
    - ``"dv"`` — merge-on-read: the matched rows' positions land in a
      deletion-vector blob and the data files never move — a delete
      touching k rows of huge files costs O(k), the 100 TB shape for
      sparse erasure (compaction materializes later);
    - ``"auto"`` — ``"dv"`` when the matched fraction of the affected
      files' live rows is at most ``DV_AUTO_MAX_FRACTION``, else
      ``"rewrite"`` (a dense delete deserves tight replacement
      files). Falls back to ``"rewrite"`` when row counts are
      unrecorded.

    Directory mode has no per-file stats to carry a DV, so ``"dv"``
    raises there and ``"auto"`` degrades to the rewrite.

    PRIVACY NOTE: a DV-mode delete hides rows from every read but the
    BYTES remain on disk until compaction materializes the vector and
    vacuum collects the old file (plus any retained snapshots). For
    GDPR-grade erasure use ``mode="rewrite"`` (the default, and what
    ``tiering.erase_tag`` uses) followed by ``vacuum`` — the same
    caveat Delta documents for its deletion vectors."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    if mode not in ("rewrite", "dv", "auto"):
        raise ValidationError(
            f"delete_rows: mode must be 'rewrite', 'dv' or 'auto', "
            f"got {mode!r}"
        )
    commit = commit if commit is not None else ManifestCommit()
    dk = delete_keys.select(*keys).distinct()

    managed = (
        commit.member_files(host, path)
        if isinstance(commit, ManifestCommit)
        else None
    )
    if managed is None:
        if mode == "dv":
            raise ValidationError(
                "delete_rows: mode='dv' needs a manifest-managed "
                "table — deletion vectors live in per-file stats, "
                "which directory mode does not record"
            )
        cur = commit.read_table(host, path, None)
        out = cur.join(dk, keys, "left_anti")
        n = out.sparkSession.sparkContext.defaultParallelism
        commit.snapshot_rewrite(host, path, _clustered_write(out, keys, n))
        return DeleteStats(-1, -1)

    root, member = commit._resolve(host, path)
    smeta, phys = _mapping_ctx(commit, host, path)
    total = len(managed)
    preds = _key_predicates(dk, keys)
    affected, _ = commit.prune_files(host, path, preds)
    if not affected:
        return DeleteStats(0, total)
    if len(keys) == 1 and isinstance(preds.get(keys[0]), set):
        # the envelope collect already materialized the FULL key set
        # (bounded by KEY_SET_MAX): rebuild the join side from those
        # literals so the semi/anti joins below stop re-executing the
        # caller's delete-key derivation — up to three extra source
        # scans per delete (r17, guide §1.2). Values (incl. None)
        # round-trip through createDataFrame under dk's own schema,
        # so join behavior is byte-identical; multi-key deletes keep
        # the frame (per-column sets are not the tuple set).
        dk = dk.sparkSession.createDataFrame(
            [(v,) for v in preds[keys[0]]], dk.schema
        )
    guard = _compose_guards(
        _envelope_guard(
            commit, member, set(managed) | set(affected),
            {phys(c): b for c, b in preds.items()},
        ),
        extra_guard,
    )
    if mode in ("dv", "auto"):
        entry = commit._load_entry(host, path, root, None)
        fstats = entry.get("stats", {}).get(member, {})
        matched = commit.scan_member_subset(
            host, path, affected, keep_pos=True
        ).join(dk, keys, "left_semi")
        use_dv = mode == "dv"
        if not use_dv:
            live = 0
            for f in affected:
                s = fstats.get(f)
                rows = None if s is None else s.get("rows")
                if rows is None:
                    live = None
                    break
                live += int(rows) - int(
                    (s.get("dv") or {}).get("count", 0)
                )
            use_dv = (
                live is not None
                and live > 0
                and matched.count() <= DV_AUTO_MAX_FRACTION * live
            )
        if use_dv:
            n = _apply_dv_delete(
                host, commit, path, root, member, smeta,
                affected, matched, fstats, guard,
            )
            return DeleteStats(n, total)
    plan: dict = {}
    cur = _affected_df(host, commit, path, affected, smeta, plan=plan)
    survivors = cur.join(dk, keys, "left_anti")
    # the erased rows are the commit's row-level change set
    # deleted rows are bounded by the affected files' contents
    cdf = _cdf_sized(
        _physical_out(
            commit, host, root, member,
            cur.join(dk, keys, "left_semi")
            .withColumn(commit.CDF_TYPE_COL, F.lit("delete")),
            smeta,
        ),
        len(affected) * 250_000,
    )
    # a fully-deleted slice drops its files with no replacement write
    write_fn = (
        None
        if survivors.isEmpty()
        else _clustered_write(
            _physical_out(commit, host, root, member, survivors, smeta),
            [phys(k) for k in keys],
            len(affected), partition_cols_of(affected),
        )
    )
    commit.rewrite_files(
        host, path, affected, write_fn, entry_guard=guard, cdf_df=cdf,
        plan_dv=plan["dv"],
    )
    return DeleteStats(len(affected), total)


def replace_range(
    host,
    path: str,
    source: DataFrame,
    column: str,
    lo=None,
    hi=None,
    commit=None,
    target_files: int | None = None,
    extra_guard=None,
) -> DeleteStats:
    """Atomically replace every row with ``lo <= column <= hi`` by
    ``source`` — the Delta ``replaceWhere`` idiom in ONE commit
    (a delete + append would leave a visible gap between two
    entries): the idempotent backfill/restatement primitive ("recompute
    day X and swap it in"). Every source row must satisfy the
    predicate (enforced — a stray row outside the range would silently
    corrupt the swap's meaning, the same check Delta runs). Files
    whose stats prove no overlap are untouched; survivors of partially
    overlapping files carry over into the replacement write; the
    removed rows and the new rows land as typed CDF in the same entry,
    so keyed mirrors apply the swap as O(delta). Same conflict posture
    as the merge family (key-envelope entry guard)."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    if lo is None and hi is None:
        raise ValidationError(
            "replace_range: at least one bound required (a full "
            "replacement is replace_tables / snapshot_rewrite)"
        )
    commit = commit if commit is not None else ManifestCommit()
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(column) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(column) <= F.lit(hi))
    stray = source.where(~cond | F.col(column).isNull()).limit(1)
    if not stray.isEmpty():
        r = stray.first()
        raise ValidationError(
            f"replace_range into {path!r}: source row with "
            f"{column}={r[column]!r} falls outside "
            f"[{lo!r}, {hi!r}] — every replacement row must satisfy "
            "the predicate it replaces"
        )

    managed = (
        commit.member_files(host, path)
        if isinstance(commit, ManifestCommit)
        else None
    )
    if managed is None:
        cur = commit.read_table(host, path, None)
        out = cur.where(~cond | F.col(column).isNull()).unionByName(
            source.select(*cur.columns)
        )
        n = out.sparkSession.sparkContext.defaultParallelism
        commit.snapshot_rewrite(
            host, path, _clustered_write(out, [column], n)
        )
        return DeleteStats(-1, -1)

    root, member = commit._resolve(host, path)
    smeta, phys = _mapping_ctx(commit, host, path)
    total = len(managed)
    pcols = partition_cols_of(managed)
    if managed:
        _check_columns(
            _affected_df(host, commit, path, managed[:1], smeta),
            source, path, exempt=pcols,
        )
    preds = {column: (lo, hi)}
    affected, _ = commit.prune_files(host, path, preds)
    guard = _compose_guards(
        _envelope_guard(
            commit, member, set(managed) | set(affected),
            {phys(column): (lo, hi)},
        ),
        extra_guard,
    )
    plan: dict = {"dv": {}}
    if affected:
        cur = _affected_df(host, commit, path, affected, smeta, plan=plan)
        cur = cur.select(*source.columns)
        survivors = cur.where(~cond | F.col(column).isNull())
        removed = cur.where(cond)
        out = survivors.unionByName(source)
    else:
        removed = None
        out = source
    cdf = source.withColumn(commit.CDF_TYPE_COL, F.lit("upsert"))
    if removed is not None:
        cdf = removed.withColumn(
            commit.CDF_TYPE_COL, F.lit("delete")
        ).unionByName(cdf)
    n_files = target_files or max(1, len(affected))
    commit.rewrite_files(
        host, path, affected,
        _clustered_write(
            _physical_out(commit, host, root, member, out, smeta),
            [phys(column)], n_files, pcols,
        ),
        entry_guard=guard,
        cdf_df=_cdf_sized(
            _physical_out(commit, host, root, member, cdf, smeta),
            len(affected) * 250_000,
        ),
        plan_dv=plan["dv"],
    )
    return DeleteStats(len(affected), total)


def _check_columns(
    target: DataFrame, source: DataFrame, path: str, exempt=()
):
    if set(target.columns) != set(source.columns):
        raise ValidationError(
            f"merge into {path!r}: source columns "
            f"{sorted(source.columns)} != target columns "
            f"{sorted(target.columns)}"
        )
    # TYPE enforcement (r14, found by the mapped-vs-plain equivalence
    # differential): a WIDER source type would union-coerce the
    # replacement rows and write wider physical files into a member
    # whose untouched files stay narrow — a mixed-width member with no
    # widen metadata, which later footer-inferred scans fail on.
    # Refuse loudly with the sanctioned path (the Delta
    # schema-enforcement posture). ``exempt`` carries the hive
    # partition columns: their values live in directory PATHS, not
    # file bytes, and their read-side dtype is directory inference —
    # no physical width to protect, so int-vs-bigint drift there is
    # harmless (the replacement write re-derives the path strings).
    tt, st = dict(target.dtypes), dict(source.dtypes)
    off = {
        c: (st[c], tt[c])
        for c in st
        if c not in exempt and st[c] != tt[c]
    }
    if off:
        c, (s, t) = next(iter(sorted(off.items())))
        raise ValidationError(
            f"merge into {path!r}: source column {c!r} is {s} but the "
            f"target stores {t} — matching types are required so "
            "replacement files keep the member's physical width. "
            "widen_column first (int->long, float->double), or cast "
            "the source."
        )
