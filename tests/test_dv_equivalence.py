"""DV-vs-rewrite equivalence differential (r14) — the same style of
pin the mapped-vs-plain differential gave schema mapping: run ONE
deterministic mutation sequence against twin manifest tables, one
applying every row-level op copy-on-write and one merge-on-read
(deletion vectors), and assert the tables stay LOGICALLY IDENTICAL
after every step — then after compaction materializes the DVs, and
after vacuum reclaims the blobs. Any divergence in clause semantics,
position bookkeeping, superseding-union logic, or the DV read path
shows up as the first differing step."""

from __future__ import annotations

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.maintenance import (
    compact_small_files,
    fast_count,
)
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    merge_into,
)

SCHEMA = "id long, grp string, v long"


def _seed(spark, commit, host, path):
    for lo in (0, 80, 160):
        df = spark.range(lo, lo + 80).selectExpr(
            "id",
            "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' "
            "ELSE 'c' END AS grp",
            "id * 7 AS v",
        )
        commit.append_tables(host, path, {"": df.coalesce(1)})


def _content(host, commit, path):
    try:
        return sorted(
            map(tuple, commit.read_table(host, path).collect())
        )
    except FileNotFoundError:
        return []


#: one deterministic mutation script: (op, args) applied to both twins
def _script(spark):
    def ids(vals):
        return spark.createDataFrame(
            [(int(i),) for i in vals], "id long"
        )

    def src(rows):
        return spark.createDataFrame(rows, SCHEMA)

    return [
        ("delete", dict(delete_keys=ids([5, 85, 170]), keys=["id"])),
        ("merge", dict(
            source=src([(10, "a", -1), (300, "z", 1)]), keys=["id"],
        )),
        ("delete", dict(delete_keys=ids(range(200, 215)), keys=["id"])),
        ("merge_cond", dict(
            source=src([(11, "x", 0), (12, "x", 9_999)]), keys=["id"],
            when_matched="update", matched_condition="s.v < t.v",
        )),
        ("merge_delete_clause", dict(
            source=src([(20, "a", 0), (21, "a", 0)]), keys=["id"],
            when_matched="delete", insert_unmatched=False,
        )),
        # a second pass over already-DV'd territory: superseding union
        ("delete", dict(delete_keys=ids([6, 7, 10]), keys=["id"])),
        # a delete wiping one whole file's remainder
        ("delete", dict(delete_keys=ids(range(160, 240)), keys=["id"])),
    ]


def _apply(host, commit, path, step, mode):
    op, kw = step
    if op == "delete":
        delete_rows(host, path, commit=commit, mode=mode, **kw)
    else:
        merge_into(host, path, commit=commit, mode=mode, **kw)


class TestDvEquivalenceDifferential:
    def test_sequence_stays_identical(self, spark, tmp_path):
        host, commit = CommitHost(spark), ManifestCommit()
        cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
        _seed(spark, commit, host, cow)
        _seed(spark, commit, host, mor)
        for i, step in enumerate(_script(spark)):
            _apply(host, commit, cow, step, "rewrite")
            _apply(host, commit, mor, step, "dv")
            a = _content(host, commit, cow)
            b = _content(host, commit, mor)
            assert a == b, (
                f"step {i} ({step[0]}) diverged: "
                f"{len(a)} vs {len(b)} rows"
            )
            # metadata-only counting agrees with both
            fc = fast_count(host, mor, commit=commit)
            assert fc == len(b)
        # materialize + reclaim: still identical, DVs gone
        compact_small_files(
            host, mor, target_rows=10_000, min_group=1, commit=commit
        )
        root, _ = commit._resolve(host, mor)
        commit.vacuum(host, root, retain_versions=1, grace_s=0)
        assert _content(host, commit, mor) == _content(
            host, commit, cow
        )
        stats = commit.member_file_stats(host, mor)
        assert not any((s or {}).get("dv") for s in stats.values())

    def test_time_travel_stays_identical_per_step(self, spark, tmp_path):
        """Each twin's own history must agree step-for-step too —
        versions don't align (the ops commit different entry counts),
        so compare content at each op boundary recorded live."""
        host, commit = CommitHost(spark), ManifestCommit()
        cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
        _seed(spark, commit, host, cow)
        _seed(spark, commit, host, mor)
        marks = []
        for step in _script(spark)[:4]:
            _apply(host, commit, cow, step, "rewrite")
            _apply(host, commit, mor, step, "dv")
            marks.append(
                (
                    commit.table_versions(host, cow)[-1],
                    commit.table_versions(host, mor)[-1],
                )
            )
        for vc, vm in marks:
            a = sorted(map(tuple, commit.read_table(
                host, cow, version=vc).collect()))
            b = sorted(map(tuple, commit.read_table(
                host, mor, version=vm).collect()))
            assert a == b
