"""Loaders for the driver-generated testdata (TESTDATA.md).

Tables: TPC-H-ish star schema + an ``events`` stream table +
LLM-pipeline ``documents``/``embeddings``. All Parquet, one file (or
one directory of part files) per table, read with pushdown enabled —
filters and projections in the query catalog reach the scan.

Every table goes through one reader, ``read_parquet`` =
``spark.read.schema(<footer schema>).parquet(path)``. The schema is read
on the driver from the Parquet footer Spark's own inference would read
(the file, or a directory's first part file) and comes out as the schema
that inference would give: the Spark schema a Spark-written file stores
in its footer, else the Arrow schema mapped type by type. No load starts
Spark's one-task schema-inference job. A column type whose Spark reading
the map cannot reproduce (the unsigned integers, INT96, durations, times,
the null type) is refused with a ``TypeError`` naming the file and the
column.

``events.ts`` has shipped in two representations across driver
versions: Parquet ``TIMESTAMP(NANOS)`` (which the footer schema declares
as its raw int64 nanoseconds) and plain ``timestamp[us]`` (which Spark
infers as ``TIMESTAMP_NTZ``). The loaders here are SCHEMA-ADAPTIVE: they
branch on the footer's type and normalize to the same output columns
either way, using exact int64 arithmetic (never a double round-trip) so
epoch values are bit-identical to what DuckDB computes on the same file.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Wall-clock micros since epoch for a TIMESTAMP_NTZ column, computed as
#: pure datetime arithmetic (no session-timezone dependence). Matches
#: DuckDB's ``epoch_us(ts)`` on the same naive-timestamp parquet column.
_NTZ_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"

#: The footer key under which Spark stores the Spark schema of a file it
#: wrote; its inference prefers that schema to the Parquet one.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _scan_type(at, prefer_ntz: bool) -> T.DataType:
    """The type a Spark file scan gives a footer type: every level
    nullable, as Spark makes a file source's schema."""
    if pat.is_timestamp(at) and at.unit == "ns":
        # Spark 4 reads TIMESTAMP(NANOS) only as its raw int64 nanos
        return T.LongType()
    if pat.is_dictionary(at):
        return _scan_type(at.value_type, prefer_ntz)
    if pat.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _scan_type(f.type, prefer_ntz)) for f in at]
        )
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return T.ArrayType(_scan_type(at.value_type, prefer_ntz))
    if pat.is_map(at):
        return T.MapType(
            _scan_type(at.key_type, prefer_ntz), _scan_type(at.item_type, prefer_ntz)
        )
    if pat.is_duration(at) or pat.is_time(at) or pat.is_null(at):
        # Spark reads these as int64, refuses them, or as int32
        raise TypeError(f"Spark does not read {at} as the type it maps to")
    # the unsigned integers raise here: Spark widens them instead
    return from_arrow_type(at, prefer_ntz)


def _footer_file(path: str) -> str:
    """The file whose footer Spark's non-merging inference reads: the
    path itself, or a directory table's first data file by name. Spark
    too reads one part file's footer and takes it for every file's."""
    if not os.path.isdir(path):
        return path
    names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if any(os.path.isdir(os.path.join(path, n)) for n in names):
        raise ValueError(
            f"{path}: a partitioned table, whose partition columns' types "
            f"Spark infers from directory names"
        )
    if not names:
        raise ValueError(f"{path}: no data file to read a schema from")
    return os.path.join(path, names[0])


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every level nullable, as Spark makes a file source's
    schema (``DataType.asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from
    the footer on the driver, with no Spark job. A file Spark wrote
    carries its Spark schema in the footer, and inference takes that
    verbatim; any other file's Arrow schema is mapped by ``_scan_type``."""
    with pq.ParquetFile(_footer_file(path)) as pf:
        stored = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if stored is not None:
            return _nullable(T.StructType.fromJson(json.loads(stored)))
        leaves = [pf.schema.column(i) for i in range(pf.metadata.num_columns)]
        arrow = pf.schema_arrow
    prefer_ntz = (
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"
    )
    fields = []
    for f in arrow:
        int96 = any(
            c.physical_type == "INT96"
            and (c.path == f.name or c.path.startswith(f.name + "."))
            for c in leaves
        )
        try:
            if int96:
                raise TypeError("pyarrow reads INT96 as timestamp[ns], Spark as a timestamp")
            fields.append(T.StructField(f.name, _scan_type(f.type, prefer_ntz)))
        except TypeError as e:
            raise TypeError(
                f"{path}: column {f.name!r} has type {'INT96' if int96 else f.type}, "
                f"which the footer schema cannot map to Spark's reading of it"
            ) from e
    return T.StructType(fields)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A Parquet table (one file or a directory of part files) scanned
    with its footer schema: the one reader every load goes through."""
    return spark.read.schema(footer_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names or TABLES}


def events_epoch_us_sql(ts_type: T.DataType) -> str:
    """SQL expression yielding exact int64 epoch-MICROSECONDS for the
    ``ts`` column under whichever type the testdata shipped with."""
    if isinstance(ts_type, T.LongType):
        return "ts div 1000"  # raw int64 nanoseconds (legacy NANOS files)
    if isinstance(ts_type, T.TimestampNTZType):
        return _NTZ_EPOCH_US
    if isinstance(ts_type, T.TimestampType):
        return "unix_micros(ts)"
    raise TypeError(f"unsupported events.ts type: {ts_type}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events normalized to ``ts_ns`` (int64 epoch ns), ``ts_ms``
    (int64 epoch ms), and ``ts`` (microsecond-precision TIMESTAMP) —
    matching what DuckDB sees when it reads the same file, whether the
    file stores int64-nanos, TIMESTAMP(NANOS) or timestamp[us]. The
    branch is taken on the footer schema's ``ts`` type, so building the
    DataFrame starts no Spark job and leaves the session's settings
    as they were."""
    raw = read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # `div` is exact int64 division — a double round-trip would lose
        # precision above 2^53 and could flip a millisecond boundary.
        ts_ns = F.col("ts")
        ts_ms = F.expr("ts div 1000000")
        ts_out = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        us = events_epoch_us_sql(ts_type)
        ts_ns = F.expr(f"{us} * 1000")
        ts_ms = F.expr(f"{us} div 1000")
        ts_out = (
            F.col("ts").cast("timestamp")
            if isinstance(ts_type, T.TimestampType)
            else F.timestamp_micros(F.expr(us))
        )
    return raw.select(
        "event_id",
        ts_ns.alias("ts_ns"),
        ts_ms.alias("ts_ms"),
        ts_out.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Explicit schema for ``readStream`` over the events file: the
    file's footer schema, with ``ts`` declared ``TimestampType`` when the
    footer holds a timestamp. The parquet reader then yields the stored
    int64 micros as the timestamp's internal value verbatim (no
    timezone arithmetic), so ``unix_micros`` recovers the exact epoch
    micros DuckDB sees. Raw int64 nanos stay ``LongType``."""
    schema = footer_schema(spark, f"{sf_dir}/events.parquet")
    return T.StructType(
        [
            T.StructField("ts", T.TimestampType())
            if f.name == "ts" and not isinstance(f.dataType, T.LongType)
            else f
            for f in schema
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming source over the events table, normalized to
    the same columns ``load_events`` emits (``ts`` microsecond
    TIMESTAMP, ``ts_ms`` int64 epoch ms) regardless of the file's ts
    representation. The file stream source requires a DIRECTORY;
    sf_dir holds one parquet file per table, so stream the directory
    with a glob that admits only the events file."""
    schema = events_stream_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        ts_out = F.timestamp_micros(F.expr("ts div 1000"))
        ts_ms = F.expr("ts div 1000000")
    else:
        ts_out = F.col("ts")
        ts_ms = F.expr("unix_micros(ts) div 1000")
    return raw.select(
        "event_id",
        ts_out.alias("ts"),
        ts_ms.alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def events_as_samples(spark: SparkSession, sf_dir: str, partition_width: int = 120_000) -> DataFrame:
    """Map the driver's ``events`` table onto the engine sample schema
    (FIXTURES.md §6): ``tag := event_type``, ``ts := epoch ms``,
    ``value := props``, plus a numeric projection ``value_num`` for
    analytics. ``ingest_ts``/``writer_id``/``seq`` are synthesized
    deterministically from the event row so LWW ordering is stable."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        F.col("event_type").alias("tag"),
        F.col("ts_ms").alias("ts"),
        F.col("props").alias("value"),
        F.col("value").alias("value_num"),
        F.col("ts_ms").alias("ingest_ts"),
        F.lit("gen").alias("writer_id"),
        F.col("event_id").alias("seq"),
        (
            F.col("ts_ms") - F.pmod(F.col("ts_ms"), F.lit(partition_width))
        ).alias("part_start"),
        F.col("user_id"),
        F.col("event_id"),
    )
