"""Boundary-respecting (no-split) packing: greedy first-fit placement
verified against a pure-Python reference recurrence, plus the layout
invariants an SFT shard writer depends on."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.operators.packing import (
    pack_documents_nosplit,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")

WT = 64


def _reference_place(rows, wt=WT):
    """The recurrence, independently in Python: rows = [(id, n)]
    sorted by id; returns {id: (pack_id, win_offset, oversize)}."""
    out, win, used = {}, 0, 0
    for doc_id, n in sorted(rows):
        if n > wt:
            if used > 0:
                win += 1
            out[doc_id] = (win, 0, True)
            win += 1
            used = 0
            continue
        if used + n > wt:
            win += 1
            used = 0
        out[doc_id] = (win, used, False)
        used += n
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def packed(docs):
    return pack_documents_nosplit(docs, window_tokens=WT).localCheckpoint()


class TestReferenceDifferential:
    def test_matches_python_recurrence(self, packed):
        rows = packed.collect()
        by_stream: dict = {}
        for r in rows:
            by_stream.setdefault((r.source, r.shard), []).append(r)
        assert by_stream
        for key, stream in by_stream.items():
            want = _reference_place(
                [(r.doc_id, r.n_tokens) for r in stream]
            )
            for r in stream:
                assert (r.pack_id, r.win_offset, r.oversize) == want[
                    r.doc_id
                ], (key, r.doc_id)


class TestInvariants:
    def test_no_window_overflows(self, packed):
        bad = packed.where(
            ~F.col("oversize")
            & (F.col("win_offset") + F.col("n_tokens") > WT)
        ).count()
        assert bad == 0

    def test_oversize_docs_sit_alone_and_are_flagged(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a " * 100, "s"),        # 100 tokens > 64: oversize
                (2, "b c d", "s"),
                (3, "e " * 70, "s"),         # another oversize
            ],
            "doc_id long, text string, source string",
        )
        out = pack_documents_nosplit(
            df, window_tokens=WT, num_shards=1
        ).collect()
        rows = {r.doc_id: r for r in out}
        assert rows[1].oversize and rows[3].oversize
        assert not rows[2].oversize
        # each oversize doc's window holds only itself
        by_win: dict = {}
        for r in out:
            by_win.setdefault(r.pack_id, []).append(r.doc_id)
        for r in out:
            if r.oversize:
                assert by_win[r.pack_id] == [r.doc_id]

    def test_pack_ids_contiguous_per_stream(self, packed):
        per = (
            packed.groupBy("source", "shard")
            .agg(
                F.min("pack_id").alias("lo"),
                F.max("pack_id").alias("hi"),
                F.countDistinct("pack_id").alias("n"),
            )
            .collect()
        )
        for r in per:
            assert r.lo == 0
            assert r.n == r.hi + 1  # no gaps: every window has a doc

    def test_window_size_carried(self, packed):
        assert packed.select("pack_window_tokens").distinct().collect() == [
            (WT,)
        ] or packed.first().pack_window_tokens == WT

    def test_deterministic_under_repartition(self, docs):
        a = pack_documents_nosplit(docs, window_tokens=WT)
        b = pack_documents_nosplit(docs.repartition(13), window_tokens=WT)
        assert (
            a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        )


class TestPlanShape:
    def test_single_exchange_arrow_grouped(self, docs):
        from redis_lsm_timeseries_spark.operators.packing import (
            pack_documents_nosplit,
        )

        plan = (
            pack_documents_nosplit(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one hash partition on (source, shard); the recurrence runs
        # Arrow-batched (FlatMapGroupsInPandas), never row-at-a-time
        assert plan.count("Exchange") <= 1, plan
        assert "FlatMapGroupsInPandas" in plan
        assert "BatchEvalPython" not in plan


class TestNonLongIds:
    def test_string_ids_and_int_sources(self, spark):
        """ADVICE r8: the output schema derives from the input field
        types — a corpus with string doc ids and integer sources packs
        without miscasts, and placement still matches the recurrence
        over the (string) sort order."""
        rows = [
            (f"doc-{i:03d}", "w " * (i % 5 + 1), i % 2)
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, text string, source int"
        )
        packed = pack_documents_nosplit(df, window_tokens=8, num_shards=2)
        assert dict(packed.dtypes)["doc_id"] == "string"
        assert dict(packed.dtypes)["source"] == "int"
        got = {
            (r.source, r.shard, r.doc_id): (r.pack_id, r.win_offset,
                                            r.oversize)
            for r in packed.collect()
        }
        assert len(got) == 40
        streams = {}
        for (src, shard, did), _ in got.items():
            streams.setdefault((src, shard), []).append(
                (did, did.count("-") and (int(did.split("-")[1]) % 5 + 1))
            )
        for key, members in streams.items():
            want = _reference_place(members, wt=8)
            for did, _n in members:
                assert got[(key[0], key[1], did)] == want[did]
