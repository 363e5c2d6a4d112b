"""Filter operators (SURVEY §2.2 P1-P9).

All pure DataFrame expressions; the per-group statistics use a single
shuffle (window or groupBy+join on the same key, which Catalyst reuses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def threshold_filter(df: DataFrame, col: str, cutoff: float, absolute: bool = True) -> DataFrame:
    """P2: ``abs(correlation) >= cutoff`` style predicate
    (reference ``gizmos.py:646-649``)."""
    c = F.abs(F.col(col)) if absolute else F.col(col)
    return df.where(c >= cutoff)


def remove_zeros(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """P5: drop every group (gene) that contains any exact-zero value
    (reference ``corrMultiomics.py:200-202``).  Long-form anti-join: one
    shuffle to find offending keys, broadcast-anti back."""
    bad = df.where(F.col(value_col) == 0).select(*key_cols).distinct()
    return df.join(bad, key_cols, "left_anti")


def group_mad(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Per-group MAD values (the statistic itself, for inspection/tests)."""
    med = df.groupBy(*key_cols).agg(F.median(value_col).alias("__med"))
    return (
        df.join(med, key_cols)
        .groupBy(*key_cols)
        .agg(F.median(F.abs(F.col(value_col) - F.col("__med"))).alias("mad"))
    )


def outlier_flags(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    threshold: float = 2.0,
    broadcast_stats: bool | None = None,
) -> DataFrame:
    """P8: per-group z-score outlier flag, DriverNet
    ``getPatientOutlierMatrix.R:4-26`` (x is an outlier iff
    ``|x − μ| >= threshold·σ`` within its gene).

    Aggregate-then-join formulation: the per-group stats table has one row
    per group (map-side partial aggregation), and the big relation is never
    sorted — strictly cheaper than the window form, which must sort every
    partition.  ``broadcast_stats=None`` (default) lets Catalyst/AQE pick
    the join strategy from the stats table's actual size — a forced hint
    would be wrong when the group key is high-cardinality (10⁸ groups is a
    stats table that no longer broadcasts); pass True only when the caller
    knows the group count is small.
    """
    stats = df.groupBy(*key_cols).agg(
        F.mean(value_col).alias("__mu"), F.stddev(value_col).alias("__sd")
    )
    if broadcast_stats:
        stats = F.broadcast(stats)
    joined = df.join(stats, key_cols)
    return joined.withColumn(
        "outlier",
        F.when(F.col("__sd").isNull() | (F.col("__sd") == 0), F.lit(False)).otherwise(
            F.abs(F.col(value_col) - F.col("__mu")) >= F.lit(threshold) * F.col("__sd")
        ),
    ).drop("__mu", "__sd")


def nonzero_transition_filter(df: DataFrame, col: str) -> DataFrame:
    """P4: drop rows whose rounded transition is exactly zero
    (reference ``pathMassTransitions.py:278-288``)."""
    return df.where(F.abs(F.col(col)) > 0)

