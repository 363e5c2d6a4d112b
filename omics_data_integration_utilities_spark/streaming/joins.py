"""Interval join over the events table (the reference is batch-only).

Two event relations equi-join on a key with an event-time interval
constraint (``t_right ∈ [t_left + lower, t_left + upper]``).  Key
equality carries the one shuffle; the range predicate filters inside
each key group.

Scale shape: shuffle is |left| + |right| keyed rows, and skewed keys
fall to AQE skew handling like any equi-join.  No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .events import _event_time


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lower_seconds: int = 0,
    upper_seconds: int = 3600,
    left_ts: str = "ts",
    right_ts: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """Batch interval join: one row per (left, right) pair with equal
    ``key`` and ``t_right - t_left ∈ [lower_seconds, upper_seconds]``.

    ``how='left_outer'`` keeps unmatched left rows with nulls on the
    right columns — the other production shape ("impression with no
    click inside the window").

    Returns (key, left_time, right_time, left_type, right_type,
    left_value, right_value) with event times in epoch seconds (long) so
    the result is engine-portable (the DuckDB oracle compares longs, not
    timezone-rendered timestamps).
    """
    lt = F.unix_timestamp(_event_time(left, left_ts))
    rt = F.unix_timestamp(_event_time(right, right_ts))
    l = left.select(
        F.col(key).alias("k"),
        lt.alias("left_time"),
        F.col("event_type").alias("left_type"),
        F.col("value").alias("left_value"),
    )
    r = right.select(
        F.col(key).alias("k"),
        rt.alias("right_time"),
        F.col("event_type").alias("right_type"),
        F.col("value").alias("right_value"),
    )
    return (
        l.join(
            r,
            on=[
                l["k"] == r["k"],
                r["right_time"] >= l["left_time"] + F.lit(int(lower_seconds)),
                r["right_time"] <= l["left_time"] + F.lit(int(upper_seconds)),
            ],
            how=how,
        )
        .select(
            l["k"].alias(key),
            "left_time",
            "right_time",
            "left_type",
            "right_type",
            "left_value",
            "right_value",
        )
    )
