"""As-of (point-in-time) join: for each left row, the most recent
right row at-or-before its timestamp, per key.

Spark has no native ASOF JOIN (DuckDB/Pandas do). The naive
translation — equi-join on key + filter ts, then argmax per left row —
materializes every (left, right-history) pair: quadratic per key and
dead at scale. This operator instead UNIONS both sides tagged, sorts
once per key by (ts, side), and carries the right payload forward with
``last(..., ignoreNulls)`` over an unbounded-preceding window. Cost:
ONE shuffle on the key and a per-partition sort — the same price as a
single groupBy, independent of how many right rows precede each left
row.

At equal timestamps the right row sorts first, so the match is
inclusive (left.ts >= right.ts), matching DuckDB's ASOF semantics.
The right side must be unique per (key, ts) — dedup upstream with an
explicit tiebreaker (see plans/events.py events_asof_orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
) -> DataFrame:
    """Backward as-of join. Returns every ``left`` row with ``payload``
    columns from the latest ``right`` row whose ``right_ts`` <=
    ``left_ts`` for the same key (nulls when no such row exists).
    """
    from pyspark.sql import types as T

    lcols = left.columns
    # The payload travels as ONE struct so every output column comes
    # from the SAME latest right row. Filling columns independently
    # with last(ignorenulls) would let an older row's non-null value
    # leak through a newer row's NULL — diverging from DuckDB/pandas
    # ASOF semantics for nullable payloads.
    payload_t = T.StructType([T.StructField(c, right.schema[c].dataType) for c in payload])
    tagged_left = left.select(
        F.col(left_on).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(payload_t).alias("__p"),
    )
    tagged_right = right.select(
        F.col(right_on).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(*[F.col(c) for c in payload]).alias("__p"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged_left.unionByName(tagged_right).select(
        "__is_left",
        *lcols,
        F.last("__p", ignorenulls=True).over(w).alias("__pf"),
    )
    return (
        filled.filter(F.col("__is_left") == 1)
        .select(*lcols, *[F.col(f"__pf.{c}").alias(c) for c in payload])
    )
