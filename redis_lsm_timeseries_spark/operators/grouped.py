"""Grouped-map (applyInPandas) operator surface.

The reference has no user-extensible function mechanism (SURVEY.md
§2.3 UDF: the closest is an internal filter callback,
``index.js:278``); the engine exposes Spark's grouped-map Pandas API as
the UDAF-style extension point. The example operator — per-group linear
trend — is deliberately chosen so its result is EXACTLY reproducible in
SQL: all accumulation happens in arbitrary-precision integers (Python
ints on the Spark side, HUGEINT sums in the DuckDB oracle), and only
the final slope division rounds to double. That turns the whole
Arrow->Pandas->Python surface into a differentially-testable component
instead of a rows-only one.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

TREND_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.StringType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("slope", T.DoubleType()),
    ]
)


def per_group_linear_trend(
    df: DataFrame,
    key_col: str = "tag",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Least-squares slope per group via ``applyInPandas``.

    Input: (key_col, x_col: int64, y_col: int64). Output:
    (tag, n_points, slope) with slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    computed in exact integer arithmetic, each side rounded to double
    only at the final division — bit-identical to a SQL engine summing
    in 128-bit integers.

    Scale shape: one shuffle on the group key; each group streams
    through a worker as Arrow batches. The closure is self-contained
    (no module globals), so executors don't need this package
    importable."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import operator

        import pandas as _pd

        # Exact integer accumulation, but through C-speed paths:
        # Series.tolist() yields Python ints (exact int64 -> int), and
        # sum/map(operator.mul) keep arbitrary precision while pushing
        # the per-row loop out of bytecode (~2.5x less in-UDF CPU than
        # the per-element comprehensions they replace — guide §4:
        # the boundary stays, the Python-per-row work goes).
        # tolist() is exact ONLY for integer dtypes: nulls upcast the
        # column to float64 and a float column would silently degrade
        # the arbitrary-precision sums to float (ADVICE r17). Non-int
        # input goes through int(v) per element — exact for the
        # float-that-is-an-integer case, loud (ValueError) on NaN or a
        # fractional value, which int() alone would truncate.
        def ints(col):
            vals = pdf[col].tolist()
            if pdf[col].dtype.kind not in ("i", "u"):
                exact = [int(v) for v in vals]
                if exact != vals:
                    raise ValueError(
                        f"per_group_linear_trend: {col} holds a value "
                        "that is not an integer"
                    )
                vals = exact
            return vals

        xs = ints(x_col)
        ys = ints(y_col)
        n = len(xs)
        sx = sum(xs)
        sy = sum(ys)
        sxy = sum(map(operator.mul, xs, ys))
        sxx = sum(map(operator.mul, xs, xs))
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        # float() each exact integer FIRST, then divide: the oracle
        # casts its HUGEINT sums to DOUBLE before dividing, and the
        # double-rounding must match step for step.
        slope = float(num) / float(den) if den else float("nan")
        return _pd.DataFrame(
            {
                "tag": [pdf[key_col].iloc[0]],
                "n_points": [n],
                "slope": [slope],
            }
        )

    return df.groupBy(key_col).applyInPandas(run, TREND_SCHEMA)
