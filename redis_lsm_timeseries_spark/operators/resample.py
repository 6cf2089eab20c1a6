"""Time-series resampling: regular-grid gap filling with LOCF or
linear interpolation — the TimescaleDB ``time_bucket_gapfill`` /
``locf`` / ``interpolate`` surface the reference's consumers would
reach for next, expressed as DataFrame windows.

Pipeline per series (tag):
1. bucket raw samples to the grid (``floor(ts / step) * step``),
   newest-per-bucket wins (the engine's LWW posture applied to
   resampling);
2. explode each series' [min_bucket, max_bucket] range into the full
   grid (``sequence`` — no driver loop, no cross join);
3. left-join observed buckets onto the grid;
4. fill: LOCF = last non-null before (one window pass); linear =
   previous and next observed points lerped by grid distance (two
   window passes, forward + backward).

100 TB shape: everything partitions by the series key — the grid
explode is map-side off a per-tag (min, max) aggregate, the join and
both fill windows shuffle on tag only, and no step touches more than
one series' data in a task. Dense grids multiply rows by
(range/step)/samples, which is the operator's intrinsic output size,
not overhead. All arithmetic is exact integers except the lerp's one
double division — mirrored 1:1 by the DuckDB oracle in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def resample_gapfill(
    samples: DataFrame,
    step: int,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
    how: str = "locf",
) -> DataFrame:
    """Regular-grid resampling of (tag, ts, value) samples.

    ``ts`` is integer time (any unit); the grid is every multiple of
    ``step`` from each tag's first to last observed bucket. Output:
    (tag, grid_ts, value, observed) — ``observed`` marks buckets that
    held a real sample; filled values come from LOCF (``how='locf'``)
    or linear interpolation between the neighboring observed points
    (``how='linear'``, LOCF-degrading to the last point after the
    final observation). Leading gaps (before the first observation)
    stay NULL under both modes.

    Within a bucket the LATEST sample wins (ties: greatest value —
    deterministic and oracle-reproducible)."""
    if step <= 0:
        raise ValueError("step must be positive")
    if how not in ("locf", "linear"):
        raise ValueError(f"how must be 'locf' or 'linear', got {how!r}")

    bucketed = (
        samples.select(
            F.col(tag_col).alias("tag"),
            (F.floor(F.col(ts_col) / F.lit(step)) * F.lit(step))
            .cast("long")
            .alias("grid_ts"),
            F.col(ts_col).cast("long").alias("_ts"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy("tag", "grid_ts")
        .agg(
            F.max_by("_v", F.struct("_ts", "_v")).alias("obs_value"),
        )
    )
    grid = (
        bucketed.groupBy("tag")
        .agg(
            F.min("grid_ts").alias("_lo"), F.max("grid_ts").alias("_hi")
        )
        .select(
            "tag",
            F.explode(
                F.sequence("_lo", "_hi", F.lit(int(step)))
            ).alias("grid_ts"),
        )
    )
    joined = grid.join(bucketed, ["tag", "grid_ts"], "left").withColumn(
        "observed", F.col("obs_value").isNotNull()
    )

    w_prev = (
        Window.partitionBy("tag")
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_v = F.last("obs_value", ignorenulls=True).over(w_prev)
    if how == "locf":
        return joined.select(
            "tag",
            "grid_ts",
            prev_v.alias("value"),
            "observed",
        )

    w_next = (
        Window.partitionBy("tag")
        .orderBy("grid_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_ts = F.last(
        F.when(F.col("observed"), F.col("grid_ts")), ignorenulls=True
    ).over(w_prev)
    next_v = F.first("obs_value", ignorenulls=True).over(w_next)
    next_ts = F.first(
        F.when(F.col("observed"), F.col("grid_ts")), ignorenulls=True
    ).over(w_next)
    lerp = F.when(F.col("observed"), F.col("obs_value")).otherwise(
        F.when(
            next_ts.isNotNull() & prev_ts.isNotNull(),
            prev_v
            + (next_v - prev_v)
            * (
                (F.col("grid_ts") - prev_ts).cast("double")
                / (next_ts - prev_ts).cast("double")
            ),
        ).otherwise(prev_v)  # trailing gap: degrade to LOCF
    )
    return joined.select("tag", "grid_ts", lerp.alias("value"), "observed")


def m4_downsample(
    samples: DataFrame,
    bucket: int,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, time
    bucket) keep min, max, first and last — the four samples that make
    a line rendering of the bucket pixel-identical to the full series.
    The standard visualization/preview reduction for time-series
    engines (LTTB's sequential anchor dependency doesn't distribute;
    M4 is the parallel-friendly choice and errs on keeping MORE
    extremes).

    Output: (tag, bucket_ts, first_v, last_v, min_v, max_v, n) —
    consumers explode back to <=4 points per bucket as needed. Ties
    inside a bucket break deterministically: first/last by (ts, value)
    order, so the oracle reproduces them.

    One partial-aggregated groupBy on (tag, bucket) — map-side
    combine, no window, no sort; the cheapest possible shape."""
    if bucket <= 0:
        raise ValueError("bucket must be positive")
    b = (
        F.floor(F.col(ts_col) / F.lit(bucket)) * F.lit(bucket)
    ).cast("long")
    v = F.col(value_col).cast("double")
    ts = F.col(ts_col).cast("long")
    return (
        samples.select(
            F.col(tag_col).alias("tag"),
            b.alias("bucket_ts"),
            ts.alias("_ts"),
            v.alias("_v"),
        )
        .groupBy("tag", "bucket_ts")
        .agg(
            F.min_by("_v", F.struct("_ts", "_v")).alias("first_v"),
            F.max_by("_v", F.struct("_ts", "_v")).alias("last_v"),
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


def with_zscore_anomaly(
    samples: DataFrame,
    trailing_rows: int = 20,
    threshold: float = 3.0,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Rolling z-score anomaly flagging: score each sample against
    the mean/stddev of the ``trailing_rows`` samples BEFORE it (the
    point itself excluded, so a spike cannot mask itself by inflating
    its own baseline).

    Output adds: roll_mean, roll_std (sample stddev), zscore (NULL
    until the trailing window holds >= 2 points or when the window is
    constant — a flat baseline gives no scale, and flagging on it
    would be noise), is_anomaly.

    One window sort per series, two aggregates over the same frame —
    Spark evaluates them in a single pass. The same shuffle class as
    every per-series operator here; at 100 TB the series key
    partitions the work and no cross-series data moves."""
    if trailing_rows < 2:
        raise ValueError("trailing_rows must be >= 2")
    w = (
        Window.partitionBy(tag_col)
        .orderBy(ts_col)
        .rowsBetween(-trailing_rows, -1)
    )
    v = F.col(value_col).cast("double")
    mean = F.avg(v).over(w)
    std = F.stddev_samp(v).over(w)
    z = F.when(
        std.isNotNull() & (std > 0.0), (v - mean) / std
    )
    return (
        samples.withColumn("roll_mean", mean)
        .withColumn("roll_std", std)
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(
                F.abs(F.col("zscore")) > F.lit(float(threshold)),
                F.lit(False),
            ),
        )
    )


def with_ewma(
    samples: DataFrame,
    alpha: float,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Exponentially-weighted moving average per series, the recursive
    (Prometheus/monitoring-style) form:

        y_0 = x_0;  y_t = alpha * x_t + (1 - alpha) * y_{t-1}

    Output: input columns + ``ewma`` (double), ordered within each
    series by (ts, value) — the value tie-break keeps duplicate-ts
    rows deterministic.

    Why Pandas, not Columns: the recursion weights EVERY prior sample
    with (1-alpha)^k — expressible as a window sum only through
    (1-alpha)^(-k) prefix terms, which overflow doubles after a few
    thousand rows for any practical alpha. The honest distributed
    shape is one Arrow batch per series (``applyInPandas`` keyed by
    tag — state never crosses series), the same posture as the
    stateful trend operator in ``operators/grouped.py``. Long series
    are the caveat: one task holds one series; split on a coarse time
    bucket first if a single series outgrows a task (the recursion
    then restarts per bucket — document the seam, don't hide it)."""
    import pandas as pd

    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    cols = samples.columns

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, value_col], ignore_index=True)
        # pandas ewm(adjust=False) IS this recursion, C-implemented —
        # a Python loop here would make long series driver-of-cost.
        # The semantics are pinned by the test's independent Python
        # recurrence, so a drifting library default cannot slip by.
        pdf["ewma"] = (
            pdf[value_col].astype("float64")
            .ewm(alpha=alpha, adjust=False)
            .mean()
        )
        return pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in samples.schema.fields
    ) + ", ewma double"
    return (
        samples.groupBy(tag_col)
        .applyInPandas(smooth, schema)
        .select(*cols, "ewma")
    )
