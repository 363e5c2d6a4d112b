"""Data-quality / drift monitor — the windowed twin of
``operators/profile.profile_numeric``: per tumbling window, per watched
column, the moments a feed monitor alarms on (count, null count, mean,
sample stddev, min, max).

Production shape at scale: every aggregate here is a single-pass
combinable JVM aggregate (count/avg/stddev/min/max — no percentile,
whose exact form buffers values), and the per-window wide row is
unpivoted AFTER aggregation (a projection on one row per window — free,
same 1-row ``stack`` trick as the batch profiler).  Drift detection
composes downstream: join the emitted window rows against a reference
profile and flag shifted moments (:func:`drift_flags`), which is plain
DataFrame algebra on the tiny profile relation, not on the feed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .events import ts_event_micros_sql

__all__ = ["windowed_profile_agg", "drift_flags"]

_STATS = ("n_nonnull", "n_nulls", "mean", "stddev", "min_value", "max_value")


def _col_aggs(cols: Sequence[str]) -> list[Column]:
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, name in enumerate(cols):
        c = F.col(name).cast("double")
        aggs += [
            F.count(c).alias(f"__nn_{i}"),
            F.round(F.avg(c), 6).alias(f"__mean_{i}"),
            F.round(F.stddev(c), 6).alias(f"__sd_{i}"),
            F.min(c).alias(f"__min_{i}"),
            F.max(c).alias(f"__max_{i}"),
        ]
    return aggs


def _unpivot(wide: DataFrame, cols: Sequence[str], key_cols: list[str]) -> DataFrame:
    parts = []
    for i, name in enumerate(cols):
        lit = name.replace("'", "''")
        parts.append(
            f"'{lit}', __nn_{i}, __n - __nn_{i}, __mean_{i}, __sd_{i}, "
            f"__min_{i}, __max_{i}"
        )
    stacked = wide.select(
        *key_cols,
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) "
            f"as (col_name, {', '.join(_STATS)})"
        ),
    )
    return stacked


def windowed_profile_agg(
    events: DataFrame,
    columns: Sequence[str],
    window_seconds: int = 3600,
) -> DataFrame:
    """Integer epoch bucket (timezone-proof, engine-exact —
    same ``div`` arithmetic as ``tumbling_event_agg``) × watched column
    → ``(bucket, col_name, n_nonnull, n_nulls, mean, stddev, min_value,
    max_value)``."""
    cols = list(columns)
    if not cols:
        raise ValueError("windowed_profile_agg: need at least one column")
    window_us = int(window_seconds) * 1_000_000
    bucket = F.expr(f"{ts_event_micros_sql(events)} div {window_us}")
    wide = events.groupBy(bucket.alias("bucket")).agg(*_col_aggs(cols))
    return _unpivot(wide, cols, ["bucket"])


def drift_flags(
    current: DataFrame,
    reference: DataFrame,
    *,
    mean_sigmas: float = 3.0,
    null_frac_jump: float = 0.05,
) -> DataFrame:
    """Flag windows whose per-column stats drifted from a reference
    profile: |mean - ref_mean| > ``mean_sigmas``·ref_stddev, or the
    null fraction rising more than ``null_frac_jump`` absolute.  Both
    inputs are profile relations (rows per (window, col_name)) — tiny
    next to the feed, so this is a broadcast join no matter the corpus.
    ``reference`` needs columns (col_name, mean, stddev, n_nonnull,
    n_nulls).

    Flag semantics are total — never NULL: a watched column MISSING
    from the reference (schema drift, the loudest drift event) raises
    ``ref_missing`` and both drift flags; a reference row whose stddev
    is NULL (single-sample window — sample stddev undefined) cannot
    support the sigma rule, so ``mean_drift`` is False there and the
    caller sees the undefined baseline via ``ref_missing=False`` +
    their own reference."""
    ref = F.broadcast(
        reference.select(
            F.col("col_name"),
            F.lit(True).alias("__ref_present"),
            F.col("mean").alias("ref_mean"),
            F.col("stddev").alias("ref_stddev"),
            (
                F.col("n_nulls")
                / (F.col("n_nulls") + F.col("n_nonnull")).cast("double")
            ).alias("ref_null_frac"),
        )
    )
    cur_null_frac = (
        F.col("n_nulls") / (F.col("n_nulls") + F.col("n_nonnull")).cast("double")
    )
    joined = current.join(ref, "col_name", "left")
    ref_missing = F.coalesce(F.col("__ref_present"), F.lit(False)) == F.lit(False)
    mean_cond = (
        F.abs(F.col("mean") - F.col("ref_mean")) > mean_sigmas * F.col("ref_stddev")
    )
    null_cond = (cur_null_frac - F.col("ref_null_frac")) > null_frac_jump
    return joined.select(
        *current.columns,
        ref_missing.alias("ref_missing"),
        # coalesce makes the flags total: NULL comparison outcomes
        # (missing reference -> flagged via ref_missing; NULL ref
        # stddev -> unassessable, not flagged) never leak NULL into a
        # boolean a downstream filter would silently drop
        F.when(ref_missing, F.lit(True))
        .otherwise(F.coalesce(mean_cond, F.lit(False)))
        .alias("mean_drift"),
        F.when(ref_missing, F.lit(True))
        .otherwise(F.coalesce(null_cond, F.lit(False)))
        .alias("null_drift"),
    )
