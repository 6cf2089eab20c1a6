"""SparkSession builder for the engine.

Tuned for the driver environment (single-JVM ``local[N]``) but every
setting is the one you'd want on a real cluster too: AQE on (runtime
shuffle coalescing + skew-join splitting), UTC session time zone (so
timestamp comparisons against the DuckDB oracle are stable), Arrow for
the Pandas-UDF slow path, and shuffle partitions sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

#: a single-JVM master: every block lives in the one process that
#: would lose it, so a local checkpoint is as reliable as the session
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _deployment(spark: SparkSession) -> tuple[str, str | None]:
    """``(master, checkpoint directory or None)`` of ``spark``'s context."""
    sc = spark.sparkContext
    return sc.master, sc.getCheckpointDir()


def materialize(df: DataFrame, label: str, eager: bool = False) -> DataFrame:
    """``df`` with its plan cut at stored rows: the package's one
    materialization seam.

    On a local master it is ``localCheckpoint``. On a cluster it is a
    reliable ``checkpoint`` under ``spark.checkpoint.dir``, because a
    local checkpoint's blocks live on the executors and die with them;
    with no directory set it raises ``RuntimeError`` naming ``label``
    rather than fall back to the unreliable form. Lazy by default: the
    rows are stored by the first action that reads them. ``eager``
    stores them now, in a job described as ``materialize <label>``."""
    master, checkpoint_dir = _deployment(df.sparkSession)
    local = _LOCAL_MASTER.fullmatch(master) is not None
    if not local and checkpoint_dir is None:
        raise RuntimeError(
            f"materialize {label!r}: master {master!r} is not local and no "
            "spark.checkpoint.dir is set; a local checkpoint would not "
            "survive the loss of an executor"
        )
    if not eager:
        return df.localCheckpoint(eager=False) if local else df.checkpoint(eager=False)
    sc = df.sparkSession.sparkContext
    before = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"materialize {label}")
    try:
        return df.localCheckpoint(eager=True) if local else df.checkpoint(eager=True)
    finally:
        sc.setJobDescription(before)


class _LocalFrame(ClassicDataFrame):
    """``local_frame``'s result; ``_jdf`` is built on first touch."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame's __new__ calls __init__ with a jdf
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table, schema: T.StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._built = None
        self.__dict__["schema"] = schema  # the cached_property, seeded
        arrow = to_arrow_schema(
            schema, prefers_large_types=spark._jconf.arrowUseLargeVarTypes()
        )
        # one chunk: Spark drops the record batches after an empty one
        self._table = table.select(schema.names).cast(arrow).combine_chunks()

    @property
    def _jdf(self):
        if self._built is None:
            self._built = self._session.createDataFrame(self._table, self.schema)._jdf
        return self._built

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self._built = jdf

    def isLocal(self) -> bool:
        return True

    def collect(self):
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        binary = any(isinstance(f.dataType, T.BinaryType) for f in self.schema.fields)
        as_bytes = not binary or (
            self._session.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true")
            .lower() == "true"
        )
        return ArrowTableToRowsConversion.convert(
            self._table, self.schema, binary_as_bytes=as_bytes
        )

    def _collect_as_arrow(self, split_batches=False, empty_list_if_zero_records=True):
        import pyarrow as pa

        # a self-destructing toPandas releases its own table's
        # references to these buffers; the held table keeps its own
        batches = [b for b in self._table.to_batches() if b.num_rows]
        if batches or empty_list_if_zero_records:
            return batches
        return [pa.RecordBatch.from_pylist([], schema=self._table.schema)]


def local_frame(spark: SparkSession, table, schema: T.StructType) -> DataFrame:
    """The Arrow table ``table`` (a pyarrow ``Table`` holding at least
    ``schema``'s columns) as a ``DataFrame`` of ``schema``: the
    package's one form of a driver-side result.

    ``collect()`` answers from the table through PySpark's own
    Arrow-to-rows conversion (with no JVM call unless ``schema`` has a
    binary column, whose Python type a session setting picks), and
    ``toPandas()``/``toArrow()`` through PySpark's own conversions of
    the table's batches; none of them starts a Spark job or builds a
    JVM relation, and ``isLocal()`` is True. Any other use (a
    transformation, a join, a write, ``count()``, ``explain``) builds
    the same local relation as ``spark.createDataFrame(table,
    schema)``, once. The rows match that
    relation's, value types included, for string, integer, floating
    and binary columns (``tests/test_local_frame.py``)."""
    return _LocalFrame(spark, table, schema)


@contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` to a job's
    actual data, restoring the session value on exit.

    Used by the catalog's temp-store mutation entries (a few thousand
    rows — 32 near-empty shuffle tasks per job cost more than the work)
    and by the finite test streams (the StateStore partition count is
    frozen from this conf at the first micro-batch). A production
    deployment sizes the session value once to key cardinality x
    executor count; this pin is for bounded, known-small jobs only."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def get_spark(app_name: str = "redis-lsm-timeseries-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource pushFilters (the rlts_table connector's
        # manifest-stats skipping) is gated off by default in 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Dynamic overwrite: the purge-ack job replaces only the hot
        # partitions it rewrites (tiering.py), never the whole table.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
