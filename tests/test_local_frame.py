"""``session.local_frame``: a driver-side result answers ``collect()``,
``toPandas()`` and ``toArrow()`` from the Arrow table it holds, with no
Spark job and no JVM relation built, and matches
``spark.createDataFrame(table, schema)`` in every answer: rows and each
value's Python type, pandas dtypes and cells, the Arrow table, the
count, the schema, and the frames derived from it. The cases are the
package's driver-result schemas. These checks pin the PySpark internals
the local frame leans on (the classic ``DataFrame`` constructor, the
``schema`` cached property, ``_collect_as_arrow``,
``ArrowTableToRowsConversion``), so a PySpark upgrade that moves them
fails here. Also: a bounded ``read_range``/``read_all``/``read_rollup``
never calls ``SparkSession.createDataFrame`` to be collected."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import SparkSession, functions as F

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.rollup import _rollup_schema, read_rollup, refresh_rollup
from redis_lsm_timeseries_spark.schema import SAMPLE_SCHEMA
from redis_lsm_timeseries_spark.session import local_frame
from redis_lsm_timeseries_spark.store import RANGE_RESULT_SCHEMA, TimeseriesStore
from redis_lsm_timeseries_spark.tiering import purge_payload, purge_scan


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@contextmanager
def _conf(spark, key: str, value: str):
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _chunked(columns: dict, arrow_schema: pa.Schema) -> pa.Table:
    """``columns`` as a table of three chunks, the middle one empty:
    the shape an expression filter leaves, after whose empty batch
    Spark drops the rest."""
    t = pa.table(columns, schema=arrow_schema)
    return pa.concat_tables([t.slice(0, 1), t.slice(0, 0), t.slice(1)])


def _range_rows() -> pa.Table:
    return _chunked(
        {"tag": ["a", "a", "b:c", "b:c"], "ts": [1, 2, 5, 9], "value": ["1", None, "x", None]},
        pa.schema([("tag", pa.string()), ("ts", pa.int64()), ("value", pa.string())]),
    )


def _rollup_rows(with_sketch: bool) -> pa.Table:
    nan = float("nan")
    cols = {
        "tag": ["a", "a", "b"],
        "bucket_start": [0, 10, 0],
        "n": [3, 1, 2],
        "n_numeric": [2, 0, 1],
        "sum_num": [2.5, None, nan],
        "min_num": [nan, None, -1.0],
        "max_num": [nan, None, 4.0],
        "n_distinct": [3, 1, 2],
    }
    fields = [
        ("tag", pa.string()), ("bucket_start", pa.int64()), ("n", pa.int64()),
        ("n_numeric", pa.int64()), ("sum_num", pa.float64()), ("min_num", pa.float64()),
        ("max_num", pa.float64()), ("n_distinct", pa.int64()),
    ]
    if with_sketch:
        cols["distinct_sketch"] = [b"\x02\x01\x07\x0c", None, b""]
        fields.append(("distinct_sketch", pa.binary()))
    return _chunked(cols, pa.schema(fields))


def _member_rows() -> pa.Table:
    return _chunked(
        {
            "tag": ["a", "a", "z"], "ts": [1, 1, 7], "value": ["1", None, "q"],
            "ingest_ts": [10, 20, 10], "writer_id": ["w", "w", "v"], "seq": [0, 1, 0],
            "part_start": [0, 0, 0],
        },
        pa.schema([
            ("tag", pa.string()), ("ts", pa.int64()), ("value", pa.string()),
            ("ingest_ts", pa.int64()), ("writer_id", pa.string()), ("seq", pa.int64()),
            ("part_start", pa.int64()),
        ]),
    )


CASES = {
    "range-with-tombstones": (_range_rows, RANGE_RESULT_SCHEMA),
    "empty": (lambda: _range_rows().slice(0, 0), RANGE_RESULT_SCHEMA),
    "rollup": (lambda: _rollup_rows(False), _rollup_schema(False)),
    "rollup-with-sketch": (lambda: _rollup_rows(True), _rollup_schema(True)),
    "raw-members": (_member_rows, SAMPLE_SCHEMA),
}


def _typed(rows) -> list[tuple]:
    """Rows as (value, type) pairs; NaN made comparable."""
    return [
        tuple(
            ("nan" if isinstance(v, float) and math.isnan(v) else v, type(v)) for v in r
        )
        for r in rows
    ]


def _tuples(table: pa.Table) -> list[tuple]:
    return [tuple(r.values()) for r in table.to_pylist()]


def _sorted(rows) -> list[tuple]:
    return sorted(_typed(rows), key=repr)


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_data_frame(spark, case):
    make, schema = CASES[case]
    table = make()
    frame = local_frame(spark, table, schema)
    # the reference gets one chunk: Spark drops the batches after an
    # empty one
    ref = spark.createDataFrame(table.combine_chunks(), schema)

    j0 = _next_job_id(spark)
    rows = frame.collect()
    pdfs = {}
    for arrow_enabled in ("true", "false"):  # a vanilla session has it off
        with _conf(spark, ARROW, arrow_enabled):
            pdfs[arrow_enabled] = frame.toPandas()
    arrow = frame.toArrow()
    assert _next_job_id(spark) == j0
    assert frame._built is None, "collect/toPandas/toArrow built the JVM relation"
    assert frame.isLocal()

    assert _typed(rows) == _typed(ref.collect())
    for arrow_enabled, pdf in pdfs.items():
        with _conf(spark, ARROW, arrow_enabled):
            want = ref.toPandas()
        assert pdf.dtypes.tolist() == want.dtypes.tolist()
        pd.testing.assert_frame_equal(pdf, want)
    want = ref.toArrow()
    assert arrow.schema.equals(want.schema, check_metadata=True)
    assert _typed(_tuples(arrow)) == _typed(_tuples(want))
    assert frame.schema == ref.schema
    assert frame.columns == ref.columns

    # any other use builds the relation once, from every chunk
    assert frame.count() == ref.count() == table.num_rows
    built = frame._built
    assert built is not None
    first = F.col(schema.names[1])
    assert _sorted(frame.where(first > 1).collect()) == _sorted(ref.where(first > 1).collect())
    assert _sorted(frame.unionByName(ref).collect()) == _sorted(ref.unionByName(ref).collect())
    key = schema.names[:2]
    joined = frame.alias("l").join(ref.select(*key).alias("r"), key)
    assert _sorted(joined.collect()) == _sorted(
        ref.alias("l").join(ref.select(*key).alias("r"), key).collect()
    )
    assert frame._built is built


def test_binary_values_follow_the_session_conf(spark):
    """``spark.sql.execution.pyspark.binaryAsBytes=false`` makes a
    classic ``collect()`` return ``bytearray``; the local frame reads
    the conf at each collect, as the JVM path does."""
    make, schema = CASES["rollup-with-sketch"]
    with _conf(spark, "spark.sql.execution.pyspark.binaryAsBytes", "false"):
        got = local_frame(spark, make(), schema).collect()
        want = spark.createDataFrame(make().combine_chunks(), schema).collect()
    assert _typed(got) == _typed(want)
    assert type(got[0].distinct_sketch) is bytearray


def test_self_destructing_to_pandas_keeps_the_table(spark):
    """A self-destructing ``toPandas()`` releases only its own
    table's references, never the frame's table, so the frame answers
    again."""
    make, schema = CASES["rollup"]
    frame = local_frame(spark, make(), schema)
    with _conf(spark, "spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true"):
        first = frame.toPandas()
    pd.testing.assert_frame_equal(first, frame.toPandas())
    assert len(frame.collect()) == 3


@pytest.fixture()
def serving_store(spark, tmp_path):
    s = TimeseriesStore(spark, EngineConfig(root=str(tmp_path), partition_width=10))
    s.initialize()
    s.write([("a", 1, "1"), ("a", 12, "2"), ("b", 3, "3")], ingest_ts=100)
    s.flush_l0()
    s.write([("a", 1, "1b"), ("a", 12, None)], ingest_ts=200)  # stays in L0
    return s


def test_bounded_reads_never_create_a_data_frame(spark, serving_store, monkeypatch):
    """A store under the driver cap answers ``read_range``/``read_all``
    ``collect()`` with no ``createDataFrame`` and no Spark job; serve's
    ``jobs_per_op`` reads 0 with or without this, so only this test
    sees the round trip come back."""
    def refuse(*a, **kw):
        raise AssertionError("createDataFrame on the serving path")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    j0 = _next_job_id(spark)
    assert sorted(serving_store.read_range({"a": (0, 20)}).collect()) == [("a", 1, "1b")]
    assert sorted(
        serving_store.read_range({"a": (0, 20), "b": (0, 5)}, with_tombstones=True).collect()
    ) == [("a", 1, "1b"), ("a", 12, None), ("b", 3, "3")]
    assert sorted(serving_store.read_all(include_cold=True).collect()) == [
        ("a", 1, "1b"), ("b", 3, "3"),
    ]
    assert _next_job_id(spark) == j0


def test_rollup_and_purge_payload_are_local_frames(spark, serving_store, monkeypatch):
    """``read_rollup`` within the cap and ``purge_payload`` collect
    with no ``createDataFrame`` either."""
    refresh_rollup(serving_store, "agg", 10)
    marks = purge_scan(serving_store, partition_age_threshold_s=0, max_partitions_to_mark=1)
    assert marks

    def refuse(*a, **kw):
        raise AssertionError("createDataFrame on a driver read")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    j0 = _next_job_id(spark)
    assert {r.tag for r in read_rollup(serving_store, "agg").collect()} == {"a", "b"}
    assert purge_payload(serving_store, marks[0].purge_id).collect()
    assert _next_job_id(spark) == j0
