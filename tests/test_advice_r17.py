"""Pins for the round-17 ADVICE fixes (applied in round 18).

- ``lsh_bucket_topk``: vectors whose length != dim must NEVER match —
  the r17 ``coalesce(lsh_bucket, -1)`` non-nullable-key optimization
  had them all colliding in a shared bucket -1 (they previously
  dropped because a NULL key never matches an equi-join). The fix
  filters ``size(vec) == dim`` on both sides, which under the
  usable-norm filter is exactly the null-bucket row set.
- ``per_group_linear_trend``: a non-int64 input column (pandas
  upcasts on nulls; callers may pass float) must not silently degrade
  the exact integer accumulation to float — integral floats coerce
  exactly, NaN and fractional values fail loudly.
- ``TimeseriesStore._shuffle_partitions``: an unpinned session's
  vanilla ``spark.sql.shuffle.partitions`` default (200) must not
  produce 200 near-empty write tasks — the conf is capped at
  defaultParallelism.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.operators.similarity import lsh_bucket_topk


def test_lsh_bucket_topk_drops_mismatched_dim_vectors(spark):
    # dim=8 ranking over 4-dim vectors: every bucket is NULL pre-fix;
    # these rows must produce NO matches (the pre-r17 semantics), not
    # collide in a shared -1 bucket.
    rows = [(i, [float(i + j) for j in range(4)]) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_bucket_topk(df, df, k=3, num_planes=2, dim=8)
    assert out.count() == 0


def test_lsh_bucket_topk_correct_dim_unaffected(spark):
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
            for i in range(1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") <= 2)
    out = lsh_bucket_topk(df, queries, k=3, num_planes=2, dim=8).collect()
    # every returned neighbor shares the query's bucket and is ranked
    assert out, "well-formed vectors must still rank"
    for r in out:
        assert r.rnk <= 3 and r.query_id != r.neighbor_id


def test_mixed_dim_corpus_only_exact_dim_rows_rank(spark):
    good = [(i, [1.0] * 8) for i in range(1, 4)]
    bad = [(i + 100, [1.0] * 4) for i in range(1, 4)]  # null bucket pre-fix
    df = spark.createDataFrame(
        good + bad, "vec_id long, embedding array<double>"
    )
    out = lsh_bucket_topk(df, df, k=10, num_planes=2, dim=8)
    ids = {r.neighbor_id for r in out.collect()} | {
        r.query_id for r in out.collect()
    }
    assert ids and all(i < 100 for i in ids)


def test_grouped_trend_float_column_exact(spark):
    from redis_lsm_timeseries_spark.operators.grouped import (
        per_group_linear_trend,
    )

    ints = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 4), ("a", 3, 7)], "tag string, x long, y long"
    )
    floats = ints.select(
        "tag", F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    r1 = per_group_linear_trend(ints).collect()[0]
    r2 = per_group_linear_trend(floats).collect()[0]
    assert r1.slope == r2.slope and r1.n_points == r2.n_points


def test_grouped_trend_nan_fails_loudly(spark):
    from redis_lsm_timeseries_spark.operators.grouped import (
        per_group_linear_trend,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", None, 4.0)],
        "tag string, x double, y double",
    )
    # a null upcasts the column to float64 with NaN; int(NaN) raises
    # inside the UDF and surfaces as a Spark execution error — the
    # loud failure the exact-integer contract requires
    with pytest.raises(Exception, match="(?i)cannot convert|nan|error"):
        per_group_linear_trend(df).collect()
    # a fractional value must not truncate (2.5 -> 2) into a wrong slope
    frac = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 2.5, 4.0)], "tag string, x double, y double"
    )
    with pytest.raises(Exception, match="not an integer"):
        per_group_linear_trend(frac).collect()


def test_store_shuffle_partitions_capped(spark, store):
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert store._shuffle_partitions() == min(200, par)
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert store._shuffle_partitions() == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
