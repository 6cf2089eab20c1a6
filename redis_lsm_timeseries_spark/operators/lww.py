"""Last-write-wins merge — the reference's read-time duplicate resolution.

Reference behavior: duplicate sort keys are retained as distinct ZSET
members and the read-time winner is the member iterated last into the
result map (``index.js:278-288``; ``recipe:19-20``). The reference
leaves the cross-batch winner ambiguous (``recipe:43`` TODO); we define
it deterministically — the member with the greatest
``(ingest_ts, writer_id, seq)`` wins (SURVEY.md §2.2.4).

Implementation note (scale): this is a ``max_by`` aggregation, NOT a
``row_number`` window. A window would sort every (tag, ts) group after a
full shuffle; ``max(struct(...))`` gets map-side partial aggregation, so
at 100 TB only one candidate row per key per map task crosses the
shuffle. Same result, far less exchange traffic.

``lww_latest_arrow`` is the same merge over a pyarrow table, for reads
small enough to answer on the driver: one sort in the struct's field
order, keep the last row of each key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.schema import LWW_ORDER_COLS


def lww_latest(
    df: DataFrame,
    key_cols: Sequence[str] = ("tag", "ts"),
    order_cols: Sequence[str] = tuple(LWW_ORDER_COLS),
) -> DataFrame:
    """Collapse duplicates per ``key_cols``, keeping the row with the
    greatest ``order_cols`` tuple. Preserves the input column order."""
    payload_cols = [c for c in df.columns if c not in key_cols]
    # Struct comparison is lexicographic field-by-field, so putting the
    # ordering columns first makes max() pick the LWW winner; the
    # remaining payload columns ride along and are projected back out.
    ordered_struct = F.struct(
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        *[F.col(c).alias(c) for c in payload_cols],
    )
    agg = df.groupBy(*key_cols).agg(F.max(ordered_struct).alias("__w"))
    out = agg.select(
        *key_cols, *[F.col(f"__w.{c}").alias(c) for c in payload_cols]
    )
    return out.select(*df.columns)


def lww_latest_arrow(
    table,
    key_cols: Sequence[str] = ("tag", "ts"),
    order_cols: Sequence[str] = tuple(LWW_ORDER_COLS),
):
    """``lww_latest`` over a pyarrow table: the winner per ``key_cols``
    is the row with the greatest ``order_cols`` tuple, ties broken by
    the remaining payload columns in table order, nulls lowest — the
    order ``max(struct(...))`` applies in Spark. Returns the winners
    sorted by ``key_cols``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    payload_cols = [c for c in table.column_names if c not in key_cols]
    sort_cols = [*key_cols, *order_cols, *[c for c in payload_cols if c not in order_cols]]
    table = table.take(
        pc.sort_indices(
            table,
            sort_keys=[(c, "ascending") for c in sort_cols],
            null_placement="at_start",
        )
    )
    n = table.num_rows
    if n < 2:
        return table
    # keep row i when row i + 1 holds a different key: the last, and so
    # greatest, row of each key group
    differs = None
    for c in key_cols:
        col = table[c]
        ne = pc.not_equal(col.slice(0, n - 1), col.slice(1))
        differs = ne if differs is None else pc.or_(differs, ne)
    return table.filter(pa.chunked_array([*differs.chunks, pa.array([True])]))
