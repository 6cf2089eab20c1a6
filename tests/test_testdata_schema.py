"""Testdata-schema canary: the driver regenerates the parquet testdata
between rounds and has already changed ``events.ts``'s physical type
once (TIMESTAMP(NANOS) -> timestamp[us]). These tests fail LOUDLY if
the shipped types drift outside what the adaptive loaders handle, and
verify — against DuckDB reading the very same file — that the
normalized epoch columns are bit-exact in the CURRENT representation.
"""

from __future__ import annotations

import datetime
import decimal
import os
import re
import uuid
from contextlib import contextmanager

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from redis_lsm_timeseries_spark.sources.testdata import (
    TABLES,
    events_as_samples,
    events_epoch_us_sql,
    footer_schema,
    load_events,
    load_table,
    read_events_stream,
)

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]


def _events_path(sf_dir: str) -> str:
    return f"{sf_dir}/events.parquet"


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def datagen_dir(tmp_path_factory):
    from lsmbench import datagen

    out = tmp_path_factory.mktemp("datagen")
    datagen.generate(str(out), seed=7)
    return str(out)


@pytest.fixture(scope="module")
def spark_written_dir(spark, datagen_dir, tmp_path_factory):
    """Tables Spark wrote as directories of part files, as a replica of
    the test data is: ``region`` with a TIMESTAMP_NTZ and a TIMESTAMP
    column (the footer stores Spark's schema; the TIMESTAMP is INT96
    under Spark's default output type), and a copy of the generated
    ``events``."""
    from redis_lsm_timeseries_spark.sources.testdata import read_parquet

    out = tmp_path_factory.mktemp("spark_written")
    spark.createDataFrame(
        [(1, "a", datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 1), [1.0])],
        "r_regionkey bigint not null, r_name string, ntz timestamp_ntz, "
        "ltz timestamp, v array<double>",
    ).repartition(2).write.parquet(str(out / "region.parquet"))
    read_parquet(spark, f"{datagen_dir}/events.parquet").repartition(2).write.parquet(
        str(out / "events.parquet")
    )
    return str(out)


#: Column names every catalog query / oracle assumes. A driver-side
#: rename or drop should fail HERE, with the table named, not as a
#: scatter of AnalysisExceptions across 50 catalog entries.
EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_all_tables_present_with_expected_columns(sf_dir):
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        assert os.path.exists(path), f"missing {t} in {sf_dir}"
        got = set(pq.read_schema(path).names)
        missing = EXPECTED_COLUMNS[t] - got
        assert not missing, f"{t} in {sf_dir} lost columns {sorted(missing)}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_embedding_dim_is_pinned(sf_dir):
    """The hyperplane LSH entries embed dim-64 plane literals in the
    plan (similarity.plane_components; the `array_repeat(nrm, 64)`
    normalization in llm_queries) — a driver-side regeneration with a
    different dimension must fail HERE with the table named, not as a
    subtle band mismatch across three embeddings catalog entries."""
    con = duckdb.connect()
    dims = con.execute(
        f"SELECT DISTINCT len(embedding) FROM "
        f"'{sf_dir}/embeddings.parquet'"
    ).fetchall()
    con.close()
    assert dims == [(64,)], (
        f"embeddings in {sf_dir} shipped dims {dims}; the LSH plane "
        f"literals and norm expressions assume 64 — update "
        f"similarity.NUM/dim call sites together"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_physical_type_is_handled(sf_dir):
    """The loader supports exactly: int64 (raw nanos), timestamp[ns]
    (declared as its raw int64 by the footer schema), timestamp[us/ms/s]
    (read as TIMESTAMP). Anything else must fail here, not as 20 silent
    catalog errors."""
    import pyarrow.types as pat

    t = pq.read_schema(_events_path(sf_dir)).field("ts").type
    ok = pat.is_int64(t) or pat.is_timestamp(t)
    assert ok, f"events.ts shipped as unhandled physical type {t} in {sf_dir}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_load_events_normalized_schema(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    got = {f.name: f.dataType for f in ev.schema.fields}
    assert isinstance(got["ts_ns"], T.LongType)
    assert isinstance(got["ts_ms"], T.LongType)
    assert isinstance(got["ts"], T.TimestampType)
    # events_epoch_us_sql must accept the type Spark actually infers
    raw_type = (
        spark.read.parquet(_events_path(sf_dir)).schema["ts"].dataType
    )
    assert events_epoch_us_sql(raw_type)


@pytest.mark.skipif(not SF_DIRS, reason="no testdata directories present")
def test_load_events_epoch_values_match_duckdb(spark):
    """Differential check of the normalization itself: Spark's ts_ms /
    ts_ns / ts against DuckDB reading the same file, joined on
    event_id, compared exactly."""
    sf_dir = SF_DIRS[0]
    ev = (
        load_events(spark, sf_dir)
        .select(
            "event_id",
            "ts_ns",
            "ts_ms",
            F.unix_micros("ts").alias("ts_us"),
        )
        .orderBy("event_id")
        .limit(200)
        .collect()
    )
    con = duckdb.connect()
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(
            f"""
            SELECT event_id, epoch_ns(ts), epoch_ms(ts), epoch_us(ts)
            FROM '{_events_path(sf_dir)}'
            ORDER BY event_id LIMIT 200
            """
        ).fetchall()
    }
    assert len(ev) == len(want) > 0
    for r in ev:
        assert (r.ts_ns, r.ts_ms, r.ts_us) == want[r.event_id], r.event_id


def test_both_ts_representations_normalize_identically(spark, tmp_path):
    """The SAME logical events written as raw int64 nanos, as
    TIMESTAMP(NANOS) and as timestamp[us] (the current format) must load
    to identical normalized rows, on the batch and the stream reader.
    The real testdata only exercises one branch at a time; this keeps
    the others from rotting. Both readers run with Spark's legacy
    nanosAsLong setting off, and must leave it off: the footer schema
    declares a NANOS column as int64 itself."""
    micros = [1_704_067_200_000_000, 1_704_067_200_123_456, 1_706_657_176_220_708]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["a", "b", "c"]),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
        "props": pa.array(["x", "y", "z"]),
    }
    reprs = {
        "int64_ns": pa.array([m * 1000 for m in micros], pa.int64()),
        "timestamp_ns": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "timestamp_us": pa.array(micros, pa.timestamp("us")),
    }
    dirs = {}
    for name, ts in reprs.items():
        dirs[name] = tmp_path / name
        dirs[name].mkdir()
        pq.write_table(
            pa.table({**cols, "ts": ts}), str(dirs[name] / "events.parquet")
        )
    assert pq.read_schema(dirs["timestamp_ns"] / "events.parquet").field(
        "ts"
    ).type == pa.timestamp("ns")

    def rows(sf_dir):
        return [
            (r.event_id, r.ts_ns, r.ts_ms, r.ts, r.user_id, r.event_type)
            for r in load_events(spark, str(sf_dir)).orderBy("event_id").collect()
        ]

    def streamed(sf_dir):
        sink = f"repr_{uuid.uuid4().hex[:8]}"
        q = (
            read_events_stream(spark, str(sf_dir))
            .select("event_id", F.unix_micros("ts").alias("us"), "ts_ms")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {r.event_id: (r.us, r.ts_ms) for r in spark.table(sink).collect()}

    with _conf(spark, NANOS_AS_LONG, "false"):
        got = {name: rows(d) for name, d in dirs.items()}
        got_stream = {name: streamed(d) for name, d in dirs.items()}
        assert spark.conf.get(NANOS_AS_LONG) == "false"

    assert got["int64_ns"] == got["timestamp_ns"] == got["timestamp_us"]
    assert [r[1] for r in got["timestamp_us"]] == [m * 1000 for m in micros]  # ts_ns
    assert [r[2] for r in got["timestamp_us"]] == [m // 1000 for m in micros]  # ts_ms
    # The STREAMING reader's schema branch must agree in every world
    # too (the LongType branch is otherwise exercised by no real data).
    for name, got_rows in got_stream.items():
        assert got_rows == {
            i + 1: (m, m // 1000) for i, m in enumerate(micros)
        }, name


@pytest.mark.skipif(not SF_DIRS, reason="no testdata directories present")
def test_stream_read_matches_batch_read(spark):
    """The streaming source's explicit schema must recover the same
    epoch micros as the batch loader — the round-5 silent-wrong-answer
    mode (LongType schema over timestamp[us] data) dies here."""
    sf_dir = SF_DIRS[0]
    sink = f"canary_{uuid.uuid4().hex[:8]}"
    agg = (
        read_events_stream(spark, sf_dir)
        .select(F.unix_micros("ts").alias("us"), "ts_ms")
        .groupBy()
        .agg(
            F.min("us").alias("mn_us"),
            F.max("us").alias("mx_us"),
            F.sum("ts_ms").alias("sum_ms"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(sink).collect()[0]
    want = (
        load_events(spark, sf_dir)
        .select(F.unix_micros("ts").alias("us"), "ts_ms")
        .groupBy()
        .agg(
            F.min("us").alias("mn_us"),
            F.max("us").alias("mx_us"),
            F.sum("ts_ms").alias("sum_ms"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert (got.mn_us, got.mx_us, got.sum_ms, got.n) == (
        want.mn_us,
        want.mx_us,
        want.sum_ms,
        want.n,
    )


# ------------------------------------------------- footer schema


def _edge_types_table() -> pa.Table:
    """One row of each type whose Spark reading the footer map
    reproduces, nested nullability included."""
    ts = 1_700_000_000_123_456_789
    return pa.table({
        "i8": pa.array([1], pa.int8()),
        "i16": pa.array([1], pa.int16()),
        "raw_ns": pa.array([ts], pa.int64()),
        "ts_ns": pa.array([ts], pa.timestamp("ns")),
        "ts_ms": pa.array([ts // 10**6], pa.timestamp("ms")),
        "ts_s": pa.array([ts // 10**9], pa.timestamp("s")),
        "ts_us_utc": pa.array([ts // 1000], pa.timestamp("us", "UTC")),
        "ts_us_ny": pa.array([ts // 1000], pa.timestamp("us", "America/New_York")),
        "dict": pa.array(["a"]).dictionary_encode(),
        "large": pa.array(["a"], pa.large_string()),
        "dec": pa.array([decimal.Decimal("1.25")], pa.decimal128(12, 2)),
        "day": pa.array([datetime.date(2024, 1, 1)]),
        "flag": pa.array([True]),
        "raw": pa.array([b"x"]),
        "vec": pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
        "vec_nn": pa.array(
            [[1.0]], pa.list_(pa.field("item", pa.float32(), nullable=False))
        ),
        "st": pa.array([{"a": 1, "b": "x"}]),
        "kv": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
    })


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_footer_schema_equals_spark_inference(
    spark, tmp_path, datagen_dir, spark_written_dir, infer_ntz
):
    """The footer schema is the schema Spark's own inference gives, in
    full (types, nullability at every level), for every table of every
    test data directory, of a generated benchmark data set, of a file
    holding the edge types, and of Spark-written directory tables."""
    edge = str(tmp_path / "edge.parquet")
    pq.write_table(_edge_types_table(), edge)
    spark_written = [f"{spark_written_dir}/{t}.parquet" for t in ("region", "events")]
    assert all(os.path.isdir(p) for p in spark_written)
    with _conf(spark, INFER_NTZ, infer_ntz), _conf(spark, NANOS_AS_LONG, "true"):
        tables = [f"{d}/{t}.parquet" for d in [*SF_DIRS, datagen_dir] for t in TABLES]
        for path in [*tables, edge, *spark_written]:
            assert footer_schema(spark, path) == spark.read.parquet(path).schema, path


def test_edge_types_read_through_footer_schema(spark, tmp_path):
    """A load through the footer schema returns the stored values,
    TIMESTAMP(NANOS) as its raw int64 nanos."""
    pq.write_table(_edge_types_table(), str(tmp_path / "region.parquet"))
    with _conf(spark, NANOS_AS_LONG, "false"):
        row = load_table(spark, str(tmp_path), "region").collect()[0]
    assert row.ts_ns == row.raw_ns == 1_700_000_000_123_456_789
    assert (row.i8, row.dict, row.large, row.vec, row.st.b, row.kv) == (
        1, "a", "a", [1.0, 2.0], "x", {"k": 1},
    )


def test_loads_start_no_spark_job(spark, datagen_dir, spark_written_dir):
    """Every loader builds its DataFrame from the footer schema, so no
    load starts Spark's schema-inference job, of a file or of a
    Spark-written directory."""
    j0 = _next_job_id(spark)
    ntz = load_table(spark, spark_written_dir, "region").schema["ntz"].dataType
    assert isinstance(ntz, T.TimestampNTZType)
    assert load_events(spark, spark_written_dir).schema
    assert events_as_samples(spark, spark_written_dir).schema
    for d in [*SF_DIRS, datagen_dir]:
        schemas = [load_table(spark, d, t).schema for t in TABLES]
        schemas += [
            load_events(spark, d).schema,
            events_as_samples(spark, d).schema,
            read_events_stream(spark, d).schema,
        ]
        assert all(schemas)
    assert _next_job_id(spark) - j0 == 0


@pytest.mark.parametrize(
    "bad",
    [
        pa.array([1], pa.uint32()),
        pa.array([1], pa.uint64()),
        pa.array([1], pa.duration("us")),
        pa.array([1], pa.time64("us")),
        pa.array([None], pa.null()),
        pa.array([[1]], pa.list_(pa.uint32())),
        pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
    ],
    ids=["uint32", "uint64", "duration", "time64", "null", "list_uint32", "int96"],
)
def test_unmappable_type_is_refused_by_name(spark, tmp_path, bad):
    """Spark reads uint32 as bigint and uint64 as decimal(20,0), a
    duration as bigint, the null type as int and INT96 (which pyarrow
    reads as timestamp[ns]) as a timestamp, and refuses a time: the
    footer map reproduces none of them, so the load refuses the file,
    naming it and the column, before any job starts."""
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1], pa.int32()), "bad": bad}),
        str(path),
        use_deprecated_int96_timestamps=pa.types.is_timestamp(bad.type),
    )
    j0 = _next_job_id(spark)
    with pytest.raises(TypeError, match=re.escape(f"{path}: column 'bad'")):
        load_table(spark, str(tmp_path), "region")
    assert _next_job_id(spark) - j0 == 0


def test_partitioned_directory_is_refused_by_name(spark, tmp_path):
    """A partitioned table's partition column types come from directory
    names, which the footer does not hold: the load refuses it, naming
    the table, before any job starts."""
    path = tmp_path / "region.parquet"
    (path / "r_regionkey=1").mkdir(parents=True)
    pq.write_table(
        pa.table({"r_name": ["a"]}), str(path / "r_regionkey=1" / "part-0.parquet")
    )
    j0 = _next_job_id(spark)
    with pytest.raises(ValueError, match=re.escape(f"{path}: a partitioned table")):
        load_table(spark, str(tmp_path), "region")
    assert _next_job_id(spark) - j0 == 0
