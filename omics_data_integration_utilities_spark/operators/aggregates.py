"""Aggregation operators (SURVEY §2.4 A1-A9) incl. the correlation engine.

The correlation engine (A5/K6) is the workhorse of the reference
(``corrMultiomics.py``): every metabolite × every transcript, Pearson or
Spearman with a p-value, fanned out over a process pool.  Spark-first
restatement: long-form join on the shared sample key → groupBy the pair →
``corr`` aggregate (map-side partial, one shuffle) — the Pool becomes
partition parallelism, the ``Manager().Namespace()`` shared matrix becomes
a broadcast.

P-values: the t statistic ``t = r·sqrt((n−2)/(1−r²))`` is exact SQL; the
Student-t two-sided tail needs the regularized incomplete beta, which is
not SQL-expressible — :func:`corr_pvalues` adds it with a vectorized
(Arrow) pandas_udf, matching scipy to float precision
(``corrMultiomics.py:52-63`` parity path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import pearson_corr


def group_count(df: DataFrame, key_cols: list[str], count_col: str = "n") -> DataFrame:
    """A1: group-count (reference hand-rolls a dict loop,
    ``treatMassTransitions.py:35-43``)."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias(count_col))


def na_fraction(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """A9: per-group missing-value fraction."""
    return df.groupBy(*key_cols).agg(
        F.avg(F.col(value_col).isNull().cast("int")).alias("na_frac")
    )


def pairwise_corr(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    min_n: int = 3,
    method: str = "pearson",
) -> DataFrame:
    """A5/K6: per-group correlation with sample size and t statistic.

    ``method='spearman'`` ranks x and y within each group first (average
    ranks on ties, scipy-compatible) then applies Pearson — rank windows
    shuffle on the same group key as the final aggregate.

    Returns columns: group_cols + (n, r, t).  Groups with fewer than
    ``min_n`` samples or zero variance are dropped (the reference's scipy
    call would return NaN there).
    """
    from pyspark.sql import Window

    if method == "spearman":
        # average rank = (row_number ties averaged) — implement as
        # rank + (count(ties)-1)/2 so ties get the scipy 'average' rank.
        for c, rc in ((x_col, "__rx"), (y_col, "__ry")):
            w = Window.partitionBy(*group_cols).orderBy(F.col(c).asc())
            wt = Window.partitionBy(*group_cols, c)
            df = df.withColumn(rc, F.rank().over(w) + (F.count(F.lit(1)).over(wt) - 1) / 2.0)
        x_col, y_col = "__rx", "__ry"

    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        pearson_corr(x_col, y_col).alias("r"),
    )
    out = agg.where((F.col("n") >= min_n) & F.col("r").isNotNull())
    t = F.col("r") * F.sqrt((F.col("n") - 2) / (1 - F.col("r") * F.col("r")))
    return out.withColumn("t", t)


def corr_pvalues(corr_df: DataFrame, r_col: str = "r", n_col: str = "n") -> DataFrame:
    """Exact two-sided p-values for a correlation table, matching
    ``scipy.stats.pearsonr`` to ~1e-12 (reference ``corrMultiomics.py:
    52-63``) via the numpy-native incomplete beta in ``functions.stats``.
    Vectorized pandas_udf — the only non-SQL step, Arrow-batched, no
    shuffle."""
    import pandas as pd
    from pyspark.sql.types import DoubleType

    # no type hints: `from __future__ import annotations` stringifies them,
    # which the pandas_udf signature inference rejects
    @F.pandas_udf(DoubleType())
    def _pv(r, n):
        import numpy as np

        from ..functions.stats import student_t_sf_two_sided

        rv = r.to_numpy(dtype=float)
        nv = n.to_numpy(dtype=float)
        df = np.maximum(nv - 2, 1.0)
        t = rv * np.sqrt(df / np.maximum(1.0 - rv * rv, 1e-300))
        return pd.Series(student_t_sf_two_sided(t, df))

    return corr_df.withColumn("p", _pv(F.col(r_col), F.col(n_col)))


def correlate_long_matrices(
    left: DataFrame,
    right: DataFrame,
    sample_col: str,
    left_key: str,
    right_key: str,
    left_val: str,
    right_val: str,
    min_n: int = 3,
    method: str = "pearson",
) -> DataFrame:
    """The full corrMultiomics dataflow (§3.1): two long-form matrices →
    inner join on the shared sample key (J11 alignment is implicit) →
    pairwise correlation per (left_key, right_key).

    At scale the join shuffles on ``sample_col`` and the aggregate on the
    pair key; if one matrix is small (the metabolite side usually is),
    broadcast it to kill the first shuffle.
    """
    joined = left.select(
        F.col(sample_col).alias("__s"), F.col(left_key).alias("lk"), F.col(left_val).alias("lv")
    ).join(
        right.select(
            F.col(sample_col).alias("__s"),
            F.col(right_key).alias("rk"),
            F.col(right_val).alias("rv"),
        ),
        "__s",
    )
    return pairwise_corr(joined, ["lk", "rk"], "lv", "rv", min_n=min_n, method=method)


def funnel_counts(
    df: DataFrame,
    stages: "list[tuple[str, object]]",
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Stage-survival funnel in ONE scan: given ordered filter stages
    ``[(name, predicate Column), ...]``, count the rows surviving the
    CUMULATIVE conjunction of stages 1..k for every k — the monitoring
    table every curation pipeline wants ("how many docs did each rule
    cost?") without running one count job per stage.

    Implemented as conditional aggregation (``sum(when(p1 and … pk,
    1))`` per stage) so the whole funnel is one map-side-combinable
    aggregate over one scan: at 100 TB that is the difference between
    one pass and |stages| passes.  The cumulative AND is built
    incrementally so the aggregate expressions share subtrees — stage
    k's predicate appears in stages k..n and collapses to one
    evaluation per row under Spark's subexpression elimination (the
    codegen default); with elimination disabled an expensive predicate
    re-evaluates per later stage, so front-load costly regex/UDF
    stages or pre-project them into a column.  Optional ``group_cols``
    produce one funnel row-set per group (e.g. per source).

    Returns ``group_cols + (stage, stage_idx, n_in, n_surviving,
    n_dropped)`` with one row per stage; ``n_in`` is the survivor count
    of the previous stage (total rows for the first), so
    ``n_dropped = n_in - n_surviving`` attributes losses to exactly one
    stage.
    """
    if not stages:
        raise ValueError("funnel_counts: need at least one stage")
    gcols = list(group_cols or [])
    cum = None
    aggs = [F.count(F.lit(1)).alias("__n0")]
    for i, (name, pred) in enumerate(stages):
        p = pred if not isinstance(pred, str) else F.expr(pred)
        cum = p if cum is None else (cum & p)
        aggs.append(
            # coalesce: ungrouped agg over ZERO rows yields sum=NULL while
            # count=0 — a monitoring funnel must report 0 survivors, not
            # NULLs that silently defeat threshold alerts downstream
            F.coalesce(
                F.sum(F.when(cum, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"__n{i + 1}")
        )
    wide = df.groupBy(*gcols).agg(*aggs) if gcols else df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("stage"),
                F.lit(i).cast("long").alias("stage_idx"),
                F.col(f"__n{i}").cast("long").alias("n_in"),
                F.col(f"__n{i + 1}").cast("long").alias("n_surviving"),
                (F.col(f"__n{i}") - F.col(f"__n{i + 1}")).cast("long").alias("n_dropped"),
            )
            for i, (name, _) in enumerate(stages)
        ]
    )
    return wide.select(*gcols, F.explode(rows).alias("__s")).select(
        *gcols, "__s.stage", "__s.stage_idx", "__s.n_in", "__s.n_surviving",
        "__s.n_dropped",
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Exact fixed-bin histogram — the distribution monitor for any
    numeric column (per source/day when ``group_cols`` is given).
    Bins are half-open ``[edge_k, edge_k+1)`` over ``[lo, hi)`` with two
    overflow bins: bin −1 (< lo) and bin ``n_bins`` (>= hi); nulls are
    dropped.  Every bucket id is integer arithmetic on an
    IEEE-deterministic double chain (subtract, divide, floor), so the
    DuckDB oracle reproduces counts bit-for-bit — unlike
    ``width_bucket``-style helpers whose edge handling differs across
    engines.

    One partial-aggregating groupBy over one scan; emits (…group_cols,
    bin, bin_lo, bin_hi, n) for OCCUPIED bins only (dense zero-filled
    output would be |groups|·n_bins rows of nothing at scale — callers
    wanting dense join against a range).
    """
    if n_bins <= 0 or not (hi > lo):
        raise ValueError("value_histogram: need n_bins > 0 and hi > lo")
    width = (hi - lo) / n_bins
    v = F.col(value_col)
    raw = F.floor((v - F.lit(lo)) / F.lit(width)).cast("long")
    bin_id = (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(n_bins))
        .otherwise(F.least(raw, F.lit(n_bins - 1)))  # guard v just under hi
        .cast("long")
    )
    gcols = list(group_cols or [])
    out = (
        df.where(v.isNotNull())
        .groupBy(*gcols, bin_id.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.select(
        *gcols,
        "bin",
        F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias("bin_lo"),
        F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6).alias("bin_hi"),
        "n",
    )
