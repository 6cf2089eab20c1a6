"""Curated-corpus sink: persist the curation pipeline's output the
way a training job wants to read it back — Parquet partitioned by
(split, source), keeps-only, with the audit columns alongside and a
one-file JSON manifest recording what was written.

Scale notes:
- Partitioning by (split, source) gives the training reader free
  partition pruning ("train shard of source X" touches one
  directory) and matches the hot store's layout discipline
  (`store.py`: partition columns ARE the read predicate).
- The writer repartitions by (split, source, bounded shard): hashing
  on the partition columns ALONE would funnel each (split, source)
  directory through exactly one writer task — with a handful of
  sources at 100 TB, one task per source's entire keep-set. The shard
  key fans each directory out over ``n_files`` tasks, where
  ``n_files`` is sized per partition from its row count and a target
  file size — parallel writes, still a controlled file count (never
  the tasks × partitions small-file spray of a bare dynamic write).
- The manifest stats are computed from the SAME materialized
  DataFrame (one execution of the upstream curation DAG, not one per
  consumer) and written via the Hadoop FS — counts, not content.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from redis_lsm_timeseries_spark.session import materialize

MANIFEST_NAME = "_curation_manifest.json"


def write_curated(
    curated: DataFrame,
    path: str,
    split_col: str = "split",
    source_col: str = "source",
    keep_col: str = "keep",
    id_col: str = "doc_id",
    target_rows_per_file: int = 1_000_000,
    max_files_per_partition: int = 4096,
) -> dict:
    """Write kept rows partitioned by (split, source); returns (and
    persists) the manifest: per-partition row counts, files per
    partition, and the global kept/dropped tally.

    Rows where ``keep`` is false are NOT silently lost — they are
    counted into the manifest's ``n_dropped`` so the write is
    auditable against the curation report.

    Each (split, source) directory is written by up to
    ``n_files = clamp(ceil(rows / target_rows_per_file), 1,
    max_files_per_partition)`` tasks, sharded by a deterministic hash
    of ``id_col`` (falling back to all non-partition columns when the
    id column is absent) — retries re-produce the same layout.
    ``target_rows_per_file`` is the row-count proxy for a byte-size
    target; a deployment with wildly variable document sizes should
    set it from measured bytes-per-row."""
    if target_rows_per_file < 1:
        raise ValueError("target_rows_per_file must be >= 1")
    spark = curated.sparkSession
    # One execution of the (potentially expensive) upstream curation
    # DAG: both the stats aggregate and the partitioned write read the
    # materialized plan — and cannot disagree if the input is
    # non-deterministic.
    curated = materialize(curated, "curated.rows")
    stats = (
        curated.groupBy(
            F.col(keep_col).alias("keep"),
            F.col(split_col).alias("split"),
            F.col(source_col).alias("source"),
        )
        .count()
        .collect()
    )
    partitions = {
        f"{r.split}/{r.source}": r["count"] for r in stats if r.keep
    }
    n_files = {
        part: min(
            max(1, math.ceil(rows / target_rows_per_file)),
            max_files_per_partition,
        )
        for part, rows in partitions.items()
    }
    # Small (split, source, n_files) dimension — broadcast onto the
    # keep-set to derive each row's shard. One input slice: a spread
    # createDataFrame costs a task per default-parallelism partition.
    # Join-key schema derived from the ACTUAL curated column types
    # (ADVICE r8): hard-coded strings made non-string split/source
    # columns miskey the equi-join, and the left join's null _n_files
    # coalesced to 1 — silently restoring the single-writer funnel
    # the shard key exists to avoid.
    from pyspark.sql import types as T

    _ctypes = {f.name: f.dataType for f in curated.schema.fields}
    shards_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (r.split, r.source, n_files[f"{r.split}/{r.source}"])
                for r in stats
                if r.keep
            ],
            1,
        ),
        T.StructType(
            [
                T.StructField(split_col, _ctypes[split_col]),
                T.StructField(source_col, _ctypes[source_col]),
                T.StructField("_n_files", T.IntegerType()),
            ]
        ),
    )
    kept = curated.where(F.col(keep_col))
    shard_src = (
        F.col(id_col).cast("string")
        if id_col in curated.columns
        else F.concat_ws(
            "\x1f",
            *[
                F.col(c).cast("string")
                for c in curated.columns
                if c not in (split_col, source_col)
            ],
        )
    )
    sharded = (
        kept.join(F.broadcast(shards_df), [split_col, source_col], "left")
        .withColumn(
            "_shard",
            F.pmod(
                F.xxhash64(shard_src),
                F.coalesce(F.col("_n_files"), F.lit(1)),
            ),
        )
    )
    # EXPLICIT partition count: an un-numbered repartition is eligible
    # for AQE partition coalescing, which merges the (deliberately
    # file-sized) shard groups back into few tasks and re-creates the
    # single-writer funnel. A user-specified count is honored. Each
    # (split, source, shard) group hashes to one bucket, so a
    # directory's file count stays <= its n_files even when distinct
    # groups collide into one bucket.
    n_buckets = max(1, sum(n_files.values()))
    (
        sharded.repartition(
            n_buckets, F.col(split_col), F.col(source_col), F.col("_shard")
        )
        .drop("_shard", "_n_files")
        .write.partitionBy(split_col, source_col)
        .mode("overwrite")
        .parquet(path)
    )
    manifest = {
        "partitions": partitions,
        "n_files": n_files,
        "n_kept": sum(partitions.values()),
        "n_dropped": sum(r["count"] for r in stats if not r.keep),
        "partition_cols": [split_col, source_col],
    }
    _write_manifest(spark, f"{path}/{MANIFEST_NAME}", manifest)
    return manifest


def read_curated(
    spark: SparkSession,
    path: str,
    split: str | None = None,
    source: str | None = None,
    split_col: str = "split",
    source_col: str = "source",
) -> DataFrame:
    """Read a curated corpus back, optionally pruned to one split /
    source — the filters land on the partition columns, so Spark
    lists only the matching directories."""
    df = spark.read.parquet(path)
    if split is not None:
        df = df.where(F.col(split_col) == split)
    if source is not None:
        df = df.where(F.col(source_col) == source)
    return df


def read_manifest(spark: SparkSession, path: str) -> dict:
    """Load the manifest written by ``write_curated``. Read through
    the Hadoop FS API (as written): Spark's readers skip
    underscore-prefixed files even when the path names one explicitly
    — the same convention that hides it from corpus reads."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{MANIFEST_NAME}")
    fs = hpath.getFileSystem(conf)
    stream = fs.open(hpath)
    try:
        # read JVM-side: py4j passes byte arrays BY VALUE, so a
        # readFully into a Python bytearray would mutate only a copy
        raw = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(raw)


def _write_manifest(spark: SparkSession, file_path: str, manifest: dict) -> None:
    # one tiny JSON file; go through the JVM Hadoop FS so the path
    # semantics match the parquet writer's (local, HDFS, object store)
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(file_path)
    fs = hpath.getFileSystem(conf)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(manifest, sort_keys=True), "utf-8"))
    finally:
        out.close()
