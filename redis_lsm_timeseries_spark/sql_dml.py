"""A SQL DML facade over manifest tables (r16, VERDICT r15 #9): the
Delta-documented ``MERGE INTO`` / ``UPDATE`` / ``DELETE FROM`` /
``DESCRIBE HISTORY`` subset, parsed and dispatched to the engine's
Python mutation API — so a user coming from Delta can write the
statement they already know against a manifest path instead of
learning ``merge_into``/``update_where``/``delete_where`` first.

Spark's Python DataSource API cannot register DSv2 catalog tables, so
these statements cannot reach ``spark.sql`` natively; this facade is
the documented bridge. The TARGET is always a quoted manifest path
(backticks or single quotes) — the same string every engine API
takes.

QUERY-side SQL goes through the same front door (r17): a statement
beginning with ``SELECT`` / ``WITH`` / ``TABLE`` is rewritten —
every backtick-quoted manifest path becomes a temp view over
``read_table``, with Delta's ``VERSION AS OF <n>`` / ``TIMESTAMP AS
OF <ts>`` time travel honored per reference — and delegated to
``spark.sql``, so joins, CTEs and subqueries over manifest tables
plan natively. The same rewrite applies inside INSERT source
queries, CTAS, and MERGE ``USING`` clauses (``INSERT INTO `/t`
SELECT * FROM `/t` VERSION AS OF 3`` is the snapshot-copy idiom).

Grammar (case-insensitive keywords; anything outside it refuses loudly
with the Python API named):

- ``SELECT ... FROM `/path` [VERSION AS OF n | TIMESTAMP AS OF ts]
  [AS alias] ...`` (and any WITH/TABLE-headed query) — full Spark
  SQL over rewritten views
- ``DESCRIBE HISTORY `/path/to/table``` and ``DESCRIBE DETAIL
  `/path``` (one-row table metadata computed from the log alone —
  version, live rows, files, partition columns, constraints)
- ``CREATE [OR REPLACE] TABLE `/path` AS <query>`` (CTAS: the
  append IS the creating commit; OR REPLACE swaps atomically and is
  itself time-travelable)
- ``CREATE [OR REPLACE] TABLE `/dst` [DEEP] CLONE `/src` [VERSION
  AS OF n | TIMESTAMP AS OF ts]`` (snapshot duplication: link-or-
  copy every data file + DV blob, one bootstrap commit carrying
  stats, schema mapping and constraints — deep semantics at near-
  shallow cost; OR REPLACE refreshes an existing clone atomically,
  reusing shared-lineage files; ``SHALLOW`` refuses with the
  rationale)
- ``INSERT INTO `/path` <SELECT ...|VALUES ...|TABLE v|WITH ...>``
  (atomic append; SELECT binds by NAME, VALUES by POSITION) and
  ``INSERT OVERWRITE `/path` <query>`` (atomic whole-member swap)
- ``COPY INTO `/path` FROM '/landing/dir' [FILEFORMAT = PARQUET|
  JSON|CSV] [PATTERN = 'glob']`` (idempotent bulk-file ingest: loads
  exactly the files not yet taken, cursor and rows in one CAS'd
  commit — re-runs and races never double-load; see
  ``operators/copy_into``)
- ``VACUUM `/path` [RETAIN <n> HOURS] [DRY RUN]`` (RETAIN maps to
  the grace window for unreferenced files; DRY RUN reports the
  read-only ``vacuum_report`` sweep without deleting anything) and
  ``OPTIMIZE `/path` [WHERE <pred>]
  [ZORDER BY col, ...]`` — the WHERE (r17, Delta's predicate-scoped
  optimize) bounds compaction/clustering to files whose stats may
  overlap the predicate's envelope, so maintenance is schedulable
  per recency band
- ``RESTORE TABLE `/path` TO VERSION AS OF <n>`` and ``... TO
  TIMESTAMP AS OF <epoch-ms | 'ISO datetime'>`` (files-only undo;
  schema metadata stays current — see ``restore_table``; naive
  datetimes are UTC, resolved via ``resolve_version_asof``)
- ``ALTER TABLE `/path` RENAME COLUMN a TO b | DROP COLUMN a |
  ALTER COLUMN a TYPE long | ADD CONSTRAINT n CHECK (expr) |
  DROP CONSTRAINT n | SET TBLPROPERTIES ('k' = 'v', ...) |
  UNSET TBLPROPERTIES ('k', ...)`` (dotted nested paths included;
  ADD COLUMN refuses toward the additive-append contract; ADD
  CONSTRAINT runs the existing-data scan and the DuckDB dialect
  gate; property commits are metadata-only and CAS'd)
- ``SHOW TBLPROPERTIES `/path``` (key/value rows; CLONE records
  ``clone.source`` / ``clone.sourceVersion`` provenance here, and
  DESCRIBE DETAIL carries the same map as a JSON column)
- ``SHOW PARTITIONS `/path``` (distinct hive partition value rows
  from the manifest's file list alone — no storage listing; refuses
  on unpartitioned tables, the Spark contract) and ``ANALYZE TABLE
  `/path` COMPUTE STATISTICS`` (backfills missing per-file skipping
  stats via one ``restat`` commit — ``backfill_file_stats``)
- ``DELETE FROM `/path` WHERE <predicate>``
- ``UPDATE `/path` SET col = expr[, ...] [WHERE <predicate>]``
- ``MERGE INTO `/path` AS t USING <view|(subquery)> AS s
  ON t.k = s.k [AND t.k2 = s.k2 ...]
  [WHEN MATCHED [AND <cond>] THEN UPDATE SET * |
                                  UPDATE SET col = expr, ... |
                                  DELETE]...
  [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]
  [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
     UPDATE SET col = expr, ... | DELETE]...``
  — any distinct pair of target/source aliases works (qualified
  references rewrite to ``merge_into``'s ``t``/``s`` condition
  names, in one simultaneous literal-skipping pass); the ON
  condition must be an equi-key conjunction. MULTIPLE WHEN MATCHED
  clauses evaluate in statement order, first-match-wins per matched
  pair, and only the last may omit its condition (r17, the Delta
  multi-clause contract). ``UPDATE SET col = expr`` recomputes
  exactly the named TARGET columns (expressions see both pre-update
  aliases; unset columns keep the target row's values); ``UPDATE
  SET *`` replaces the matched row with the source row by name.
  ``NOT MATCHED BY SOURCE`` clauses (r17 — the third Delta family)
  apply to TARGET rows with no source match: explicit SET lists or
  DELETE, conditions over ``t`` only (``NOT MATCHED BY TARGET`` is
  the alias of plain NOT MATCHED). The affected-file posture widens
  to each BY SOURCE condition's stats envelope (whole member when
  unbounded) — a ``t.ts < X`` sweep still touches O(band files).
  CASE expressions inside merge clauses must be parenthesized
  (their WHEN/THEN is otherwise ambiguous with clause keywords).

Each mutation returns a one-row DataFrame (``num_affected_rows`` /
merge stats), the Delta convention.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from redis_lsm_timeseries_spark.errors import ValidationError

_PATH = r"(?:`(?P<p1>[^`]+)`|'(?P<p2>[^']+)')"
#: a second path operand in one statement (CLONE's source) — same
#: shape, distinct group names
_PATH2 = r"(?:`(?P<q1>[^`]+)`|'(?P<q2>[^']+)')"


def _host_of(spark_or_host):
    from pyspark.sql import SparkSession

    from redis_lsm_timeseries_spark.commit import CommitHost

    if isinstance(spark_or_host, SparkSession):
        return CommitHost(spark_or_host)
    return spark_or_host


def _path_of(m: re.Match) -> str:
    return m.group("p1") or m.group("p2")


def _parse_ts_ms(val: str) -> int:
    """``TIMESTAMP AS OF`` operand -> epoch milliseconds: a bare
    integer is epoch ms verbatim; a quoted ISO datetime ('2026-01-02'
    / '2026-01-02 03:04:05[.ffffff]') is interpreted as UTC when
    naive — matching how the manifest records commit ``ts_ms``."""
    from datetime import datetime, timezone

    t = val.strip()
    if (
        len(t) >= 2
        and t[0] == t[-1]
        and t[0] in ("'", '"')
    ):
        t = t[1:-1]
    if re.fullmatch(r"-?\d+", t):
        return int(t)
    try:
        dt = datetime.fromisoformat(t)
    except ValueError:
        raise ValidationError(
            f"sql RESTORE: TIMESTAMP AS OF takes epoch milliseconds "
            f"or an ISO datetime string, got {val!r}"
        ) from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and ALL literal styles
    (single/double quotes, backticks) — delegated to the shared
    tokenizer (r17, ADVICE r16: the prior inline version tracked only
    ``'``/``"`` and missed backticks)."""
    from redis_lsm_timeseries_spark.sqltext import split_top_level

    return split_top_level(s, sep)


def _split_where(text: str) -> tuple[str, str | None]:
    """Split ``<sets> [WHERE <pred>]`` at the first TOP-LEVEL WHERE
    keyword — outside literals of every style and parentheses, so a
    SET expression containing the word in a string literal (``SET
    note = 'no where here'`` or the double-quoted Spark form ``SET
    note = "no where here"``) never splits mid-literal (ADVICE r16:
    the prior version tracked only single quotes)."""
    from redis_lsm_timeseries_spark.sqltext import find_keyword

    span = find_keyword(text, "WHERE")
    if span is None:
        return text.strip(), None
    s, e = span
    return text[:s].strip(), text[e:].strip()


_ASOF_RE = re.compile(
    r"(?is)\s+(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<val>'[^']*'|\"[^\"]*\"|\S+)"
)


def resolve_query(spark_or_host, query: str, commit=None) -> str:
    """Rewrite every backtick-quoted MANIFEST PATH in ``query`` (any
    backtick span containing a ``/`` — plain backtick identifiers
    never do) into a registered temp view over ``read_table``, and
    return the rewritten text ready for ``spark.sql``. A path may be
    followed by ``VERSION AS OF <n>`` or ``TIMESTAMP AS OF <epoch-ms
    | 'ISO datetime'>`` (resolved via ``resolve_version_asof``, naive
    datetimes UTC) — the Delta time-travel SQL idiom; the suffix is
    consumed into the view. Spans inside string literals are never
    touched (the shared tokenizer skips them). View names are
    deterministic per (path, version), so repeated queries reuse
    one registration.

    Scan path, deliberately: views bind ``read_table`` — the JVM
    parquet scan (whole-stage codegen, DV- and mapping-aware), so
    predicates and projections push into the scan natively
    (plan-gated in ``tests/test_sql_dml.py::TestFrontDoorPlans``)
    and row-group stats skip within files. MANIFEST-level file
    skipping (``prune_files``) is the one thing this path leaves on
    the table — callers with a highly selective predicate over a
    huge member can register ``spark.read.format("rlts_table")``
    (whose ``pushFilters`` prunes the file list) or use
    ``read_table_pruned`` directly; the default favors the faster
    JVM scan over the Python-DataSource Arrow hop."""
    import hashlib

    from redis_lsm_timeseries_spark.commit import ManifestCommit
    from redis_lsm_timeseries_spark.sqltext import iter_quoted_spans

    host = _host_of(spark_or_host)
    commit = commit if commit is not None else ManifestCommit()
    out: list[str] = []
    last = 0
    for start, end, content in iter_quoted_spans(query, "`"):
        if "/" not in content:
            continue  # backtick IDENTIFIER (a column name), not a path
        version = None
        am = _ASOF_RE.match(query, end)
        if am:
            val = am.group("val").rstrip(",;)")
            if am.group("kind").upper() == "VERSION":
                if not re.fullmatch(r"\d+", val):
                    raise ValidationError(
                        f"sql query: VERSION AS OF takes an integer "
                        f"version, got {val!r}"
                    )
                version = int(val)
            else:
                version = commit.resolve_version_asof(
                    host, content, _parse_ts_ms(val)
                )
            # trailing punctuation (a subquery's ')' the \S+ grabbed)
            # stays in the statement text
            end = am.end() - (len(am.group("val")) - len(val))
        if version is not None and commit._resolve(
            host, content
        ) is None:
            raise ValidationError(
                f"sql query: {content!r} is not a manifest-managed "
                "table — AS OF time travel needs the commit log"
            )
        df = commit.read_table(host, content, version=version)
        tag = hashlib.md5(
            f"{content}@{version}".encode()
        ).hexdigest()[:10]
        view = f"rlts_q_{tag}"
        df.createOrReplaceTempView(view)
        out.append(query[last:start])
        out.append(view)
        last = end
    out.append(query[last:])
    return "".join(out)


def _parse_on_keys(cond: str) -> list[str]:
    """Equi-key conjunction ``t.k = s.k AND ...`` -> [k, ...]."""
    keys = []
    for part in re.split(r"(?i)\s+AND\s+", cond.strip()):
        m = re.fullmatch(
            r"\s*(?:t\.(\w+)\s*=\s*s\.(\w+)|s\.(\w+)\s*=\s*t\.(\w+))\s*",
            part,
        )
        if not m:
            raise ValidationError(
                f"sql MERGE: ON clause part {part!r} is not an "
                "equi-key condition (t.k = s.k); non-equi merge "
                "conditions go in WHEN MATCHED AND <cond> — see "
                "merge_into(matched_condition=...)"
            )
        a, b = (m.group(1), m.group(2)) if m.group(1) else (
            m.group(4), m.group(3)
        )
        if a != b:
            raise ValidationError(
                f"sql MERGE: ON joins different column names "
                f"({part!r}); merge_into keys join by NAME — rename "
                "the source column first"
            )
        keys.append(a)
    return keys


_MERGE_HEAD_RE = re.compile(
    rf"(?is)^MERGE\s+INTO\s+{_PATH}\s+(?:AS\s+)?(?P<ta>\w+)"
    r"\s+USING\s+"
)
_MATCHED_HEAD_RE = re.compile(
    r"(?is)^\s*(?P<not_>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s*$"
)
_SET_ITEM_RE = re.compile(r"(?s)^\s*(?:t\s*\.\s*)?(\w+)\s*=\s*(.+)$")


def _realias(text: str | None, ta: str, sa: str) -> str | None:
    """Rewrite user-chosen target/source aliases to the ``t``/``s``
    names ``merge_into`` conditions use — qualified references only
    (``target.col`` -> ``t.col``), so a bare column or string content
    is never touched. One SIMULTANEOUS literal-skipping pass (r17,
    ADVICE r16): ``AS x ... AS t`` no longer collapses both aliases
    to ``s.``, and alias-dot text inside string literals survives
    verbatim."""
    from redis_lsm_timeseries_spark.sqltext import (
        sub_qualified_aliases,
    )

    return sub_qualified_aliases(text, {ta: "t", sa: "s"})

def _parse_set_list(sets_text: str) -> dict | str:
    """``UPDATE SET`` payload: ``*`` (replace with the source row) or
    a ``{col: expr}`` dict. Targets may carry the (realiased) ``t.``
    prefix; a ``s.``-prefixed target is a user error (you can only
    SET target columns)."""
    if sets_text.strip() == "*":
        return "*"
    sets: dict = {}
    for part in _split_top_level(sets_text):
        if re.match(r"(?is)^\s*s\s*\.", part):
            raise ValidationError(
                f"sql MERGE: SET target in {part!r} is "
                "source-qualified — only TARGET columns can be SET"
            )
        sm = _SET_ITEM_RE.match(part)
        if not sm:
            raise ValidationError(
                f"sql MERGE: cannot parse SET item {part!r} "
                "(expected [t.]col = expr)"
            )
        col = sm.group(1)
        if col in sets:
            raise ValidationError(
                f"sql MERGE: SET names column {col!r} twice"
            )
        sets[col] = sm.group(2).strip()
    if not sets:
        raise ValidationError("sql MERGE: empty SET list")
    return sets


def _parse_merge_clauses(clauses_text: str):
    """Parse the realiased ``WHEN ...`` tail into (ordered matched
    clause list for ``merge_into``, insert_unmatched,
    not_matched_condition, ordered not-matched-BY-SOURCE clause
    list). Splitting is literal-aware and paren-aware via the shared
    tokenizer, so WHEN/THEN inside string literals or subexpressions
    never split a clause — but an UNparenthesized CASE expression in
    a condition would (its WHEN / THEN look top-level), so that
    refuses loudly instead. ``NOT MATCHED BY TARGET`` is the Delta
    alias of plain ``NOT MATCHED``; ``NOT MATCHED BY SOURCE`` (r17)
    takes ``UPDATE SET col = expr`` / ``DELETE`` actions applied to
    target rows with no source match."""
    from redis_lsm_timeseries_spark.sqltext import (
        find_keyword,
        split_keyword,
    )

    segs = split_keyword(clauses_text, "WHEN")
    if segs[0].strip():
        raise ValidationError(
            f"sql MERGE: unsupported text before the first WHEN "
            f"clause: {segs[0].strip()!r}"
        )
    matched: list = []
    by_source: list = []
    insert_unmatched = False
    not_matched_condition = None
    for seg in segs[1:]:
        if find_keyword(seg, "CASE") is not None:
            raise ValidationError(
                "sql MERGE: parenthesize CASE expressions inside "
                "merge clauses — an unparenthesized CASE's WHEN/THEN "
                "is ambiguous with the clause keywords"
            )
        then = find_keyword(seg, "THEN")
        if then is None:
            raise ValidationError(
                f"sql MERGE: clause {('WHEN ' + seg.strip())!r} has "
                "no THEN"
            )
        head, action = seg[: then[0]], seg[then[1]:].strip()
        hm = _MATCHED_HEAD_RE.match(head)
        if not hm:
            raise ValidationError(
                f"sql MERGE: cannot parse clause head "
                f"{head.strip()!r} — the facade covers WHEN [NOT] "
                "MATCHED [BY SOURCE|BY TARGET] [AND <cond>] THEN ..."
            )
        cond = hm.group("cond")
        cond = cond.strip() if cond else None
        by = (hm.group("by") or "").upper()
        if by and not hm.group("not_"):
            raise ValidationError(
                f"sql MERGE: MATCHED BY {by} is not a clause form — "
                "BY SOURCE/BY TARGET qualify NOT MATCHED only"
            )
        if hm.group("not_") and by == "SOURCE":
            if re.fullmatch(r"(?is)DELETE", action):
                by_source.append(("delete", cond))
                continue
            um = re.match(
                r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$", action
            )
            if um:
                sets = _parse_set_list(um.group("sets"))
                if sets == "*":
                    raise ValidationError(
                        "sql MERGE: NOT MATCHED BY SOURCE UPDATE "
                        "needs explicit SET col = expr (there is no "
                        "source row to replace with)"
                    )
                by_source.append(("update", sets, cond))
                continue
            raise ValidationError(
                f"sql MERGE: unsupported BY SOURCE action "
                f"{action!r} — UPDATE SET col = expr, ... | DELETE"
            )
        if hm.group("not_"):
            if not re.fullmatch(r"(?is)INSERT\s+\*", action):
                raise ValidationError(
                    "sql MERGE: WHEN NOT MATCHED supports only THEN "
                    "INSERT * (merge_into inserts the source row "
                    "by name)"
                )
            if insert_unmatched:
                raise ValidationError(
                    "sql MERGE: at most one WHEN NOT MATCHED clause"
                )
            insert_unmatched = True
            not_matched_condition = cond
            continue
        if re.fullmatch(r"(?is)DELETE", action):
            matched.append(("delete", cond))
            continue
        um = re.match(r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$", action)
        if um:
            matched.append(
                ("update", _parse_set_list(um.group("sets")), cond)
            )
            continue
        raise ValidationError(
            f"sql MERGE: unsupported action {action!r} — the facade "
            "covers UPDATE SET * | UPDATE SET col = expr, ... | "
            "DELETE (matched, and BY SOURCE without SET *) and "
            "INSERT * (not matched)"
        )
    return matched, insert_unmatched, not_matched_condition, by_source


def sql(spark_or_host, statement: str, commit=None) -> DataFrame:
    """Execute one statement from the documented DML subset against a
    manifest path; see the module docstring for the grammar. Returns
    a one-row stats DataFrame (mutations) or the history DataFrame
    (``DESCRIBE HISTORY``)."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit
    from redis_lsm_timeseries_spark.operators.dml import (
        delete_where,
        update_where,
    )
    from redis_lsm_timeseries_spark.operators.merge import merge_into

    host = _host_of(spark_or_host)
    spark = host.spark
    commit = commit if commit is not None else ManifestCommit()
    stmt = statement.strip().rstrip(";").strip()

    # query front door (r17): SELECT/WITH/TABLE over backtick-quoted
    # manifest paths, with Delta-style VERSION/TIMESTAMP AS OF time
    # travel — rewritten to temp views over read_table, then delegated
    # to spark.sql (joins, CTEs and subqueries all compose; Catalyst
    # plans the rewritten text like any other query)
    if re.match(r"(?is)^(SELECT|WITH|TABLE|VALUES)\b", stmt):
        return spark.sql(resolve_query(host, stmt, commit=commit))

    m = re.match(
        rf"(?is)^CREATE\s+(?P<orr>OR\s+REPLACE\s+)?TABLE\s+{_PATH}\s+"
        rf"(?P<depth>SHALLOW\s+|DEEP\s+)?CLONE\s+{_PATH2}"
        r"(?:\s+(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        r"(?P<val>.+?))?\s*$",
        stmt,
    )
    if m:
        # CREATE TABLE dst [DEEP] CLONE src [VERSION AS OF n] (r17):
        # snapshot duplication via link-or-copy + one bootstrap
        # commit — see ManifestCommit.clone_table
        dst = _path_of(m)
        src = m.group("q1") or m.group("q2")
        if (m.group("depth") or "").strip().upper() == "SHALLOW":
            raise ValidationError(
                "sql CLONE: this engine's clone is DEEP semantically "
                "(the clone references no source file, so source and "
                "clone vacuum/mutate independently) at shallow-like "
                "cost (hard links locally, server-side copy on object "
                "stores) — write CREATE TABLE ... [DEEP] CLONE ..."
            )
        version = None
        if m.group("kind"):
            val = m.group("val").strip()
            if m.group("kind").upper() == "VERSION":
                if not val.isdigit():
                    raise ValidationError(
                        f"sql CLONE: VERSION AS OF takes an integer "
                        f"version, got {val!r}"
                    )
                version = int(val)
            else:
                version = commit.resolve_version_asof(
                    host, src, _parse_ts_ms(val)
                )
        n = commit.clone_table(
            host, src, dst, version=version,
            replace=bool(m.group("orr")),
        )
        return spark.createDataFrame(
            [(int(n),)], "num_cloned_files long"
        )

    m = re.match(
        rf"(?is)^CREATE\s+(?P<orr>OR\s+REPLACE\s+)?TABLE\s+{_PATH}"
        r"\s+AS\s+(?P<q>.+)$",
        stmt,
    )
    if m:
        # CTAS: materialize the query as a NEW manifest table (the
        # append IS the creating commit); CREATE OR REPLACE swaps an
        # existing member atomically — itself a time-travelable
        # version, the Delta REPLACE TABLE posture
        path, q = _path_of(m), m.group("q").strip()
        df = spark.sql(resolve_query(host, q, commit=commit))
        cur_files = commit.member_files(host, path)
        exists = bool(cur_files)
        if exists and not m.group("orr"):
            raise ValidationError(
                f"sql CREATE TABLE: {path!r} already exists — use "
                "CREATE OR REPLACE TABLE to swap it atomically"
            )
        n = df.count()
        if exists:
            from redis_lsm_timeseries_spark.operators.merge import (
                partition_cols_of,
            )

            pcols = partition_cols_of(cur_files)
            if pcols and set(pcols) <= set(df.columns):
                # replacing a hive-partitioned member: keep its
                # layout (dynamic overwrite + drop of every prior
                # partition dir, one atomic entry)
                prefixes = sorted(
                    {
                        "/".join(f.split("/")[: len(pcols)])
                        for f in cur_files
                    }
                )
                commit.overwrite_partitions(
                    host, df, path, pcols, drop_prefixes=prefixes
                )
            else:
                commit.replace_tables(host, path, {"": df})
        else:
            commit.append_tables(host, path, {"": df})
        return spark.createDataFrame(
            [(int(n),)], "num_inserted_rows long"
        )

    m = re.match(
        rf"(?is)^RESTORE\s+TABLE\s+{_PATH}\s+TO\s+"
        r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+(?P<val>.+?)\s*$",
        stmt,
    )
    if m:
        path, val = _path_of(m), m.group("val").strip()
        if m.group("kind").upper() == "VERSION":
            if not val.isdigit():
                raise ValidationError(
                    f"sql RESTORE: VERSION AS OF takes an integer "
                    f"version, got {val!r}"
                )
            version = int(val)
        else:
            # TIMESTAMP AS OF <epoch-ms int | 'ISO datetime'> —
            # naive datetimes are UTC (the manifest's ts_ms
            # convention); resolves to the newest retained version
            # committed at or before it (r17, VERDICT r16 #4)
            version = commit.resolve_version_asof(
                host, path, _parse_ts_ms(val)
            )
        n = commit.restore_table(host, path, version)
        return spark.createDataFrame(
            [(int(n), int(version))],
            "num_restored_files long, restored_version long",
        )

    m = re.match(
        rf"(?is)^ALTER\s+TABLE\s+{_PATH}\s+(?P<act>.+)$", stmt
    )
    if m:
        path, act = _path_of(m), m.group("act").strip()
        am = re.match(
            r"(?is)^RENAME\s+COLUMN\s+(?P<old>[\w.]+)\s+TO\s+"
            r"(?P<new>[\w.]+)\s*$",
            act,
        )
        if am:
            commit.rename_column(
                host, path, am.group("old"), am.group("new")
            )
            return spark.createDataFrame([(True,)], "ok boolean")
        am = re.match(
            r"(?is)^DROP\s+COLUMN\s+(?P<col>[\w.]+)\s*$", act
        )
        if am:
            commit.drop_column(host, path, am.group("col"))
            return spark.createDataFrame([(True,)], "ok boolean")
        am = re.match(
            r"(?is)^ALTER\s+COLUMN\s+(?P<col>[\w.]+)\s+TYPE\s+"
            r"(?P<t>\w+)\s*$",
            act,
        )
        if am:
            commit.widen_column(
                host, path, am.group("col"), am.group("t").lower()
            )
            return spark.createDataFrame([(True,)], "ok boolean")
        am = re.match(
            r"(?is)^ADD\s+CONSTRAINT\s+(?P<name>\w+)\s+CHECK\s*"
            r"\((?P<expr>.+)\)\s*$",
            act,
        )
        if am:
            # existing-data scan + DuckDB dialect dry-run gate both
            # fire inside add_constraint (r17, VERDICT r16 #4)
            commit.add_constraint(
                host, path, am.group("name"), am.group("expr").strip()
            )
            return spark.createDataFrame([(True,)], "ok boolean")
        am = re.match(
            r"(?is)^DROP\s+CONSTRAINT\s+(?P<name>\w+)\s*$", act
        )
        if am:
            commit.drop_constraint(host, path, am.group("name"))
            return spark.createDataFrame([(True,)], "ok boolean")
        am = re.match(
            r"(?is)^SET\s+TBLPROPERTIES\s*\((?P<kv>.+)\)\s*$", act
        )
        if am:
            props = {}
            for part in _split_top_level(am.group("kv")):
                pm = re.fullmatch(
                    r"(?s)\s*(?:'(?P<k1>[^']*)'|\"(?P<k2>[^\"]*)\")"
                    r"\s*=\s*(?:'(?P<v1>[^']*)'|\"(?P<v2>[^\"]*)\")"
                    r"\s*",
                    part,
                )
                if not pm:
                    raise ValidationError(
                        f"sql ALTER TABLE: cannot parse TBLPROPERTIES "
                        f"item {part!r} (expected 'key' = 'value')"
                    )
                props[
                    pm.group("k1") or pm.group("k2") or ""
                ] = pm.group("v1") if pm.group("v1") is not None \
                    else pm.group("v2")
            commit.set_table_properties(host, path, props)
            return spark.createDataFrame([(True,)], "ok boolean")
        am = re.match(
            r"(?is)^UNSET\s+TBLPROPERTIES\s*\((?P<ks>.+)\)\s*$", act
        )
        if am:
            keys = []
            for part in _split_top_level(am.group("ks")):
                pm = re.fullmatch(
                    r"\s*(?:'([^']*)'|\"([^\"]*)\")\s*", part
                )
                if not pm:
                    raise ValidationError(
                        f"sql ALTER TABLE: cannot parse UNSET "
                        f"TBLPROPERTIES item {part!r} "
                        "(expected 'key')"
                    )
                keys.append(pm.group(1) or pm.group(2) or "")
            commit.unset_table_properties(host, path, keys)
            return spark.createDataFrame([(True,)], "ok boolean")
        if re.match(r"(?is)^ADD\s+COLUMN", act):
            raise ValidationError(
                "sql ALTER TABLE: columns are additive by APPEND — "
                "write a batch carrying the new column (NULL-backfill "
                "is automatic for older files); no explicit ADD "
                "COLUMN commit exists"
            )
        raise ValidationError(
            f"sql ALTER TABLE: unsupported action {act!r} — the "
            "facade covers RENAME COLUMN a TO b, DROP COLUMN a, "
            "ALTER COLUMN a TYPE long|double (dotted nested paths "
            "included), ADD CONSTRAINT n CHECK (expr), and DROP "
            "CONSTRAINT n"
        )

    m = re.match(
        rf"(?is)^VACUUM\s+{_PATH}"
        r"(?:\s+RETAIN\s+(?P<hours>\d+(?:\.\d+)?)\s+HOURS?)?"
        r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
        stmt,
    )
    if m:
        resolved = commit._resolve(host, _path_of(m))
        if resolved is None:
            raise ValidationError(
                f"sql VACUUM: {_path_of(m)!r} is not a "
                "manifest-managed table"
            )
        # RETAIN n HOURS maps onto the grace window: unreferenced
        # files younger than it survive this pass (version-count
        # retention — the log horizon — stays at its configured
        # default; this engine retains by VERSIONS, not wall time)
        grace = (
            float(m.group("hours")) * 3600.0
            if m.group("hours") is not None
            else None
        )
        if m.group("dry"):
            rep = commit.vacuum_report(
                host, resolved[0], grace_s=grace
            )
            return spark.createDataFrame(
                [(
                    int(rep["dead_files"]),
                    int(rep["dead_in_grace"]),
                    int(rep["live_files"]),
                    int(rep["prunable_log_entries"]),
                )],
                "num_files_to_remove long, num_files_in_grace long, "
                "num_live_files long, prunable_log_entries long",
            )
        n = commit.vacuum(host, resolved[0], grace_s=grace)
        return spark.createDataFrame(
            [(int(n),)], "num_files_removed long"
        )

    m = re.match(rf"(?is)^OPTIMIZE\s+{_PATH}(?P<rest>.*)$", stmt)
    if m:
        from redis_lsm_timeseries_spark.maintenance import (
            optimize_table,
        )
        from redis_lsm_timeseries_spark.sqltext import find_keyword

        # OPTIMIZE <path> [WHERE <pred>] [ZORDER BY col, ...] — the
        # WHERE scopes the pass to stat-overlapping files (r17); the
        # split is literal-aware so a predicate string containing
        # 'zorder' never truncates
        rest = m.group("rest")
        z_span = find_keyword(rest, "ZORDER")
        zcols = None
        head = rest
        if z_span is not None:
            head = rest[: z_span[0]]
            zm = re.fullmatch(
                r"(?is)\s*BY\s+(?P<zcols>[\w\s,]+)", rest[z_span[1]:]
            )
            if not zm:
                raise ValidationError(
                    "sql OPTIMIZE: ZORDER takes BY col[, col ...]"
                )
            zcols = [
                c.strip() for c in zm.group("zcols").split(",")
            ]
        where = None
        head = head.strip()
        if head:
            wm = re.match(r"(?is)^WHERE\s+(?P<pred>.+)$", head)
            if not wm:
                raise ValidationError(
                    f"sql OPTIMIZE: unsupported text {head!r} — the "
                    "facade covers OPTIMIZE <path> [WHERE <pred>] "
                    "[ZORDER BY col, ...]"
                )
            where = wm.group("pred").strip()
        st = optimize_table(
            host, _path_of(m), zorder_cols=zcols, commit=commit,
            where=where,
        )
        return spark.createDataFrame(
            [(st.compacted_files, st.clustered_files, st.vacuumed)],
            "compacted_files long, clustered_files long, "
            "vacuumed long",
        )

    m = re.match(
        rf"(?is)^COPY\s+INTO\s+{_PATH}\s+FROM\s+{_PATH2}"
        r"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>\w+))?"
        r"(?:\s+PATTERN\s*=\s*'(?P<pat>[^']*)')?\s*$",
        stmt,
    )
    if m:
        # idempotent bulk-file ingest (r17) — see operators/copy_into
        from redis_lsm_timeseries_spark.operators.copy_into import (
            copy_into,
        )

        st = copy_into(
            host, _path_of(m), m.group("q1") or m.group("q2"),
            file_format=(m.group("fmt") or "parquet"),
            pattern=m.group("pat"), commit=commit,
        )
        return spark.createDataFrame(
            [(st.files_loaded, st.rows_loaded, st.files_skipped)],
            "num_files_loaded long, num_rows_loaded long, "
            "num_files_skipped long",
        )

    m = re.match(
        rf"(?is)^INSERT\s+(?P<ow>OVERWRITE|INTO)\s+{_PATH}\s+"
        r"(?P<q>.+)$",
        stmt,
    )
    if m:
        from pyspark.sql import functions as F

        path, q = _path_of(m), m.group("q").strip()
        # source queries resolve manifest paths too (r17): INSERT INTO
        # `/t` SELECT * FROM `/t` VERSION AS OF 3 is the snapshot-copy
        df = spark.sql(resolve_query(host, q, commit=commit))
        is_values = bool(re.match(r"(?is)^\s*VALUES\b", q))
        managed = commit.member_files(host, path)
        if managed:
            tgt = commit.read_table(host, path)
            target_cols = tgt.columns
            tgt_types = {f.name: f.dataType for f in tgt.schema.fields}
            if is_values:
                # VALUES yields positional col1..colN names — bind
                # them to the target schema by POSITION, the SQL
                # INSERT ... VALUES contract
                if len(df.columns) != len(target_cols):
                    raise ValidationError(
                        f"sql INSERT: VALUES row has "
                        f"{len(df.columns)} column(s), the table "
                        f"has {len(target_cols)}"
                    )
                df = df.toDF(*target_cols)
            elif set(df.columns) != set(target_cols):
                raise ValidationError(
                    f"sql INSERT: query columns "
                    f"{sorted(df.columns)} != table columns "
                    f"{sorted(target_cols)} — alias the SELECT to "
                    "the table's names (appends bind by NAME)"
                )
            # store-assignment cast to the TARGET types (ANSI: an
            # overflowing literal raises, never silently wraps) — a
            # VALUES literal arrives as DECIMAL and a bare int as
            # INT; writing those widths raw would put mixed physical
            # types into one member
            df = df.select(
                *[
                    F.col(c).cast(tgt_types[c]).alias(c)
                    for c in target_cols
                ]
            )
        elif is_values:
            raise ValidationError(
                "sql INSERT: VALUES into an empty/new table has no "
                "schema to bind positionally — use SELECT with "
                "aliased columns"
            )
        n = df.count()
        # hive-partitioned members route through the layout-aware
        # writers (r17 fix: a flat append to a partitioned member
        # passed the manifest but the partitioned read silently
        # dropped its rows — now also refused by the commit layout
        # invariant)
        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )

        pcols = partition_cols_of(managed or [])
        if m.group("ow").upper() == "OVERWRITE":
            if pcols:
                # full overwrite preserving the hive layout: dynamic
                # overwrite of df's partitions + drop of every prior
                # partition dir, one atomic entry
                prefixes = sorted(
                    {
                        "/".join(f.split("/")[: len(pcols)])
                        for f in managed
                    }
                )
                commit.overwrite_partitions(
                    host, df, path, pcols, drop_prefixes=prefixes
                )
            else:
                commit.replace_tables(host, path, {"": df})
        elif pcols:
            commit.append_partitioned(host, df, path, pcols)
        else:
            commit.append_tables(host, path, {"": df})
        return spark.createDataFrame(
            [(int(n),)], "num_inserted_rows long"
        )

    m = re.match(
        rf"(?is)^SHOW\s+TBLPROPERTIES\s+{_PATH}\s*$", stmt
    )
    if m:
        props = commit.table_properties(host, _path_of(m))
        return spark.createDataFrame(
            sorted(props.items()), "key string, value string"
        )

    m = re.match(rf"(?is)^DESCRIBE\s+DETAIL\s+{_PATH}\s*$", stmt)
    if m:
        import json as _json

        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )

        path = _path_of(m)
        stats = commit.member_file_stats(host, path)
        if stats is None:
            raise ValidationError(
                f"sql DESCRIBE DETAIL: {path!r} is not a "
                "manifest-managed table"
            )
        files = commit.member_files(host, path) or []
        # live rows from the log alone (DV-adjusted); NULL when any
        # file lacks stats — never a storage read, the Delta
        # DESCRIBE DETAIL posture
        rows = 0
        for f in files:
            s = stats.get(f)
            if s is None or s.get("rows") is None:
                rows = None
                break
            rows += int(s["rows"]) - int(
                (s.get("dv") or {}).get("count", 0)
            )
        hist = commit.version_history(host, path)
        newest = hist[-1] if hist else {}
        cons = commit.table_constraints(host, path)
        return spark.createDataFrame(
            [(
                "rlts-manifest",
                path,
                newest.get("version"),
                newest.get("ts_ms"),
                len(files),
                rows,
                _json.dumps(partition_cols_of(files)),
                _json.dumps(sorted(cons)),
                _json.dumps(
                    commit.table_properties(host, path),
                    sort_keys=True,
                ),
            )],
            "format string, location string, version long, "
            "last_modified_ms long, num_files long, num_rows long, "
            "partition_columns string, constraints string, "
            "properties string",
        )

    m = re.match(rf"(?is)^DESCRIBE\s+HISTORY\s+{_PATH}\s*$", stmt)
    if m:
        import json as _json

        def _op(r):
            # Delta-style operation label from the entry's own change
            # metadata, falling back to the delta shape
            kind = r.get("change", {}).get("kind")
            if kind == "cdf":
                return "ROW_DML"
            if kind == "preserve":
                return "MAINTENANCE"
            if r.get("change", {}).get("restat"):
                return "RESTAT"
            add, rem = r.get("n_added"), r.get("n_removed")
            if add is None:
                return "CHECKPOINT"  # full (non-delta) entry
            if rem:
                return "REWRITE"
            if add:
                return "WRITE"
            return "METADATA"

        rows = commit.version_history(host, _path_of(m))
        return spark.createDataFrame(
            [
                (
                    int(r["version"]),
                    r.get("ts_ms"),
                    _op(r),
                    int(sum(r.get("members", {}).values())),
                    _json.dumps(r.get("members", {}), sort_keys=True),
                )
                for r in reversed(rows)  # newest first, the Delta shape
            ],
            "version long, ts_ms long, operation string, "
            "n_files long, members string",
        )

    m = re.match(rf"(?is)^SHOW\s+PARTITIONS\s+{_PATH}\s*$", stmt)
    if m:
        from redis_lsm_timeseries_spark.operators.merge import (
            partition_cols_of,
        )
        from redis_lsm_timeseries_spark.sources.manifest_stream import (
            _hive_values,
        )

        path = _path_of(m)
        files = commit.member_files(host, path)
        if files is None:
            raise ValidationError(
                f"sql SHOW PARTITIONS: {path!r} is not a "
                "manifest-managed table"
            )
        pcols = partition_cols_of(files or [])
        if not pcols:
            raise ValidationError(
                f"sql SHOW PARTITIONS: {path!r} is not a "
                "hive-partitioned table"
            )
        seen = set()
        for f in files:
            hv = _hive_values(f)
            seen.add(
                tuple(
                    "__HIVE_DEFAULT_PARTITION__"
                    if hv.get(c) is None
                    else str(hv[c])
                    for c in pcols
                )
            )
        return spark.createDataFrame(
            sorted(seen),
            ", ".join(f"`{c}` string" for c in pcols),
        )

    m = re.match(
        rf"(?is)^ANALYZE\s+TABLE\s+{_PATH}\s+COMPUTE\s+STATISTICS"
        r"\s*$",
        stmt,
    )
    if m:
        from redis_lsm_timeseries_spark.maintenance import (
            backfill_file_stats,
        )

        n = backfill_file_stats(host, _path_of(m), commit=commit)
        return spark.createDataFrame(
            [(int(n),)], "num_files_analyzed long"
        )

    m = re.match(
        rf"(?is)^DELETE\s+FROM\s+{_PATH}(?:\s+WHERE\s+(?P<pred>.+))?$",
        stmt,
    )
    if m:
        pred = m.group("pred")
        if pred is None:
            raise ValidationError(
                "sql DELETE: a WHERE clause is required (to drop "
                "every row, overwrite the member instead)"
            )
        st = delete_where(
            host, _path_of(m), pred.strip(), commit=commit
        )
        return spark.createDataFrame(
            [(st.rows_affected, st.files_rewritten, st.files_total)],
            "num_affected_rows long, files_rewritten long, "
            "files_total long",
        )

    m = re.match(
        rf"(?is)^UPDATE\s+{_PATH}\s+SET\s+(?P<rest>.+)$", stmt
    )
    if m:
        sets_text, pred = _split_where(m.group("rest"))
        set_exprs = {}
        for part in _split_top_level(sets_text):
            sm = re.match(r"(?s)^\s*(\w+)\s*=\s*(.+)$", part)
            if not sm:
                raise ValidationError(
                    f"sql UPDATE: cannot parse SET item {part!r} "
                    "(expected col = expr)"
                )
            set_exprs[sm.group(1)] = sm.group(2).strip()
        st = update_where(
            host, _path_of(m), set_exprs, pred, commit=commit
        )
        return spark.createDataFrame(
            [(st.rows_affected, st.files_rewritten, st.files_total)],
            "num_affected_rows long, files_rewritten long, "
            "files_total long",
        )

    m = _MERGE_HEAD_RE.match(stmt)
    if m:
        from redis_lsm_timeseries_spark.sqltext import find_keyword

        path, ta = _path_of(m), m.group("ta")
        rest = stmt[m.end():]
        on_span = find_keyword(rest, "ON")
        if on_span is None:
            raise ValidationError("sql MERGE: missing ON clause")
        src_part = rest[: on_span[0]].strip()
        after_on = rest[on_span[1]:]
        when_span = find_keyword(after_on, "WHEN")
        if when_span is None:
            raise ValidationError(
                "sql MERGE: needs at least one WHEN clause"
            )
        on_text = after_on[: when_span[0]].strip()
        clauses_text = after_on[when_span[0]:]
        sm = re.fullmatch(
            r"(?is)(?P<src>.+?)\s+(?:AS\s+)?(?P<sa>\w+)", src_part
        )
        if not sm:
            raise ValidationError(
                f"sql MERGE: cannot parse USING {src_part!r} "
                "(expected <view|(subquery)> [AS] <alias>)"
            )
        src, sa = sm.group("src").strip(), sm.group("sa")
        # USING may name a manifest path (optionally AS OF) or embed
        # one in a subquery — the same front-door rewrite applies
        src = resolve_query(host, src, commit=commit).strip()
        if src.startswith("("):
            source = spark.sql(src[1:-1])
        else:
            source = spark.table(src)
        if ta.lower() == sa.lower():
            raise ValidationError(
                f"sql MERGE: target and source share the alias "
                f"{ta!r} — give them distinct aliases"
            )
        keys = _parse_on_keys(_realias(on_text, ta, sa))
        matched, insert_unmatched, not_matched_condition, by_src = (
            _parse_merge_clauses(_realias(clauses_text, ta, sa))
        )
        st = merge_into(
            host, path, source, keys, commit=commit,
            when_matched=matched,
            insert_unmatched=insert_unmatched,
            not_matched_condition=not_matched_condition,
            not_matched_by_source=by_src,
        )
        return spark.createDataFrame(
            [(st.rows_upserted, st.files_rewritten, st.files_total)],
            "num_affected_rows long, files_rewritten long, "
            "files_total long",
        )

    raise ValidationError(
        "sql: statement outside the documented subset (SELECT/WITH/"
        "TABLE queries, MERGE INTO / UPDATE / DELETE FROM / INSERT "
        "INTO|OVERWRITE / COPY INTO / CREATE [OR REPLACE] TABLE "
        "AS|CLONE / ALTER TABLE / RESTORE TABLE / DESCRIBE "
        "HISTORY|DETAIL / SHOW TBLPROPERTIES|PARTITIONS / ANALYZE "
        "TABLE / VACUUM / OPTIMIZE over a quoted manifest path). "
        "Other mutations: replace_range / overwrite_partitions via "
        "the Python API."
    )
