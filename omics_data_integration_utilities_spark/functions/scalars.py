"""Scalar column expressions (SURVEY §2.8 F1-F12).

All JVM-side built-ins — no Python UDFs — so they stay inside whole-stage
codegen.  Each mirrors a reference helper:

- ``set_encode/decode`` ← ``gizmos.py:40-80`` (``;``-separated set cells)
- ``concat_key``      ← ``heraldPathways.py:148`` (reaction_substrate key)
- ``conditional_swap``← ``heraldPathways.py:111-133`` (direction −1 swap)
- ``pearson_corr``    ← ``corrMultiomics.py:52-63`` (NULL on zero variance)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def set_decode(col: Column | str, sep: str = ";") -> Column:
    """``;``-separated string cell → sorted distinct array (set semantics).

    The reference round-trips sets through strings (``pd_to_set`` /
    ``set_to_string``); here the array form is canonical and sorted so
    downstream equality/hash is deterministic.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array_sort(F.array_distinct(F.filter(F.split(c, sep), lambda x: x != "")))


def set_encode(col: Column | str, sep: str = ";") -> Column:
    """Array → canonical ``;``-separated string (sorted, distinct)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.array_distinct(c)), sep)


def concat_key(*cols: Column | str, sep: str = "_") -> Column:
    """Composite string key, e.g. ``reaction_id + '_' + substrate_id``."""
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws(sep, *[p.cast("string") for p in parts])


def conditional_swap(df: DataFrame, flag: Column, pairs: list[tuple[str, str]]) -> DataFrame:
    """Swap each (a, b) column pair on rows where ``flag`` holds.

    Mirrors the reference's direction==−1 substrate↔product swap done with
    row-wise ifs; here one projection, no shuffle.
    """
    exprs: dict[str, Column] = {}
    for a, b in pairs:
        exprs[a] = F.when(flag, F.col(b)).otherwise(F.col(a))
        exprs[b] = F.when(flag, F.col(a)).otherwise(F.col(b))
    return df.withColumns(exprs)


def pearson_corr(x: Column | str, y: Column | str) -> Column:
    """Pearson correlation aggregate that is NULL, not an error, when
    either side has zero variance (DuckDB's ``corr``).  Spark's ``corr``
    divides inside its own evaluation, so under ANSI mode a constant
    series raises ``[DIVIDE_BY_ZERO]`` and no expression around it can
    catch that.  Rows where either value is NULL are skipped, as in
    ``corr``; the formula is DuckDB's own, cov_pop / (sd_pop_x * sd_pop_y)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    both = x.isNotNull() & y.isNotNull()
    xs, ys = F.when(both, x), F.when(both, y)
    return F.covar_pop(x, y) / F.nullif(F.stddev_pop(xs) * F.stddev_pop(ys), F.lit(0.0))
