"""Window operators (SURVEY §2.5 W1-W3, §2.6 O1-O2, A6 deterministic dedup).

The reference's ``sort_values().drop_duplicates(keep='first')`` idiom is
order-dependent and nondeterministic under parallelism; every variant here
declares a total order (explicit tie-break columns) so reruns and the
oracle agree — SURVEY §7 "hard parts".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_in_group(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    ascending: bool = False,
    tie_break: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """W1: dense position of each row within its partition, ordered by
    ``order_col`` (reference ``wcModules.py:167-204`` re-indexes a sorted
    frame 1..n)."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(c).asc() for c in (tie_break or [])]
    w = Window.partitionBy(*part_cols).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w))


def top_k_per_group(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per partition with deterministic tie-break."""
    ranked = rank_in_group(df, part_cols, order_col, ascending, tie_break, "__rn")
    return ranked.where(F.col("__rn") <= k).drop("__rn")


def arg_extreme_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    ascending: bool = True,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """A6/W2: keep the single min/max-``order_col`` row per key — the
    reference's smallest-diameter rule pick (``mapBaseRetroRules.py:164-171``)
    and largest-diameter dedup (``gizmos.py:509-516``), made deterministic.

    r16 (guide §2.3 — aggregate before you shuffle): the ascending form
    runs as ``min_by`` over a lexicographic struct key, a real
    AGGREGATION with partial map-side combine — only one row per key per
    input partition reaches the exchange, where the window form shuffles
    every input row.  The struct key is (order, ties, remaining payload),
    so whenever (order, ties) are unique per key — the declared-total-
    order contract of this module — the surviving row is bit-identical
    to the window form's (asserted in tests); exact full-row duplicates
    are the only rows an extended key ever reorders, and those are
    indistinguishable anyway.  The descending form keeps the window
    (``max_by`` would need every tie-break INVERTED, which strings
    cannot express)."""
    if ascending:
        payload = [c for c in df.columns if c not in key_cols]
        ties = [c for c in (tie_break or []) if c != order_col]
        rest = [c for c in payload if c != order_col and c not in ties]
        ordkey = F.struct(
            F.col(order_col), *[F.col(c) for c in ties], *[F.col(c) for c in rest]
        )
        best = df.groupBy(*[F.col(c) for c in key_cols]).agg(
            F.min_by(F.struct(*[F.col(c) for c in payload]), ordkey).alias("__best")
        )
        return best.select(
            *[
                F.col(c) if c in key_cols else F.col(f"__best.{c}").alias(c)
                for c in df.columns
            ]
        )
    return top_k_per_group(df, key_cols, order_col, 1, ascending, tie_break)


def mutual_rank(
    df: DataFrame,
    left_col: str,
    right_col: str,
    value_col: str,
) -> DataFrame:
    """W1: mutual rank MR = sqrt(rank(a→b) · rank(b→a)) over a symmetric
    pair table (reference ``wcModules.py:167-209`` computes both directional
    ranks then their geometric mean for co-expression edge weights).

    One window per direction (same shuffle key layout), then the two ranked
    relations join back on the unordered pair.
    """
    wa = Window.partitionBy(left_col).orderBy(F.col(value_col).desc(), F.col(right_col).asc())
    wb = Window.partitionBy(right_col).orderBy(F.col(value_col).desc(), F.col(left_col).asc())
    ranked = df.withColumn("rank_ab", F.row_number().over(wa)).withColumn(
        "rank_ba", F.row_number().over(wb)
    )
    return ranked.withColumn("mr", F.sqrt(F.col("rank_ab") * F.col("rank_ba")))
