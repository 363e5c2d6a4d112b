"""Permutation null + FDR machinery (SURVEY §2 K12, Gohs method), one lazy plan.

Reference semantics, re-expressed Spark-first:

* mismatched-pair null distribution — ``Gohs_method/
  integrated_aCGH_expression_relationships.R:109-131`` (``null.distb.m``
  correlates modality A of one variable with modality B of another; the
  Spark restatement pairs each variable with its successor in md5-rank
  order, a deterministic cyclic derangement, so both engines and repeated
  runs agree),
* permutation p-value = fraction of the null at least as extreme,
  with the reference's prepended sentinel making it never zero —
  ``...R:130`` (``c(0, ...)``) and ``:157``
  (``length(which(comb.pv.rand<=x))/length(comb.pv.rand)``),
* Benjamini-Hochberg adjust — ``...R:158`` (``p.adjust(method="fdr")``).

:func:`permutation_fdr` builds the whole operator as one plan with no
action, no UDF and one shuffle per key set:

1. a broadcast rank table: per block, the variables in ``(md5(var), var)``
   order (``collect_set`` → ``array_sort`` → ``posexplode``) and their count;
2. one ``groupBy(blk, s)`` collects each sample's entries sorted by rank and
   ``zip_with``s the array against itself shifted by one, so every entry
   emits its observed pair and, when the next entry is its cyclic successor,
   its null pair — O(k log k) per sample of k variables, no per-key lookup;
3. one ``groupBy(blk, var, is_obs)`` for ``corr`` and ``count``;
4. one window pass per block: nulls order before observations on ties, so
   the running null count at an observed row is ``#null >= r``, and BH is
   the reverse cumulative-min window over the same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import pearson_corr


def bh_adjust(
    df: DataFrame,
    pv_col: str,
    block_cols: list[str],
    tiebreak_cols: list[str],
    out_col: str = "pv_adj",
) -> DataFrame:
    """Benjamini-Hochberg ``p.adjust(method="fdr")`` (R:158) as a window
    expression: rank p ascending, raw_i = m·p_i/i, then the running min
    from each row to the end of the block, capped at 1.  ``tiebreak_cols``
    make row_number deterministic across engines."""
    order = [F.asc(pv_col)] + [F.asc(c) for c in tiebreak_cols]
    w_rank = Window.partitionBy(*block_cols).orderBy(*order)
    w_all = Window.partitionBy(*block_cols)
    w_tail = (
        Window.partitionBy(*block_cols)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    raw = (
        F.col(pv_col)
        * F.count(F.lit(1)).over(w_all)
        / F.row_number().over(w_rank)
    )
    return df.withColumn("__raw", raw).withColumn(
        out_col, F.round(F.least(F.lit(1.0), F.min("__raw").over(w_tail)), 6)
    ).drop("__raw")


def cyclic_pair_stats(series: DataFrame) -> DataFrame:
    """Per ``(blk, var, is_obs)`` the Pearson ``r`` (rounded to 6) and the
    pair count ``n`` over the shared samples of ``series`` (one row per
    ``(blk, var, s)`` with modalities ``va``, ``vb``).  ``is_obs = 1``
    correlates the variable's own ``va`` and ``vb``; ``is_obs = 0`` its
    ``va`` with the ``vb`` of its md5-rank successor, never itself (R:109-131
    ``null.distb.m``).  A NULL block or variable is grouped like any other
    key, but a pair with a NULL variable on either side is no null pair."""
    ranks = (
        series.groupBy("blk")
        .agg(F.array_sort(F.collect_set(F.struct(F.md5("var"), "var"))).alias("vs"))
        .select(F.col("blk").alias("rb"), F.size("vs").alias("nn"), F.posexplode("vs"))
        .select("rb", "nn", "pos", F.col("col.var").alias("rv"))
    )
    entries = (
        series.join(
            F.broadcast(ranks),
            F.col("blk").eqNullSafe(F.col("rb")) & F.col("var").eqNullSafe(F.col("rv")),
        )
        .groupBy("blk", "s")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "nn", "var", "va", "vb"))).alias("e"))
    )
    shifted = F.concat(F.slice("e", 2, F.size("e")), F.slice("e", 1, 1))

    def pair(is_obs, x, y):
        return F.struct(
            F.lit(is_obs).alias("is_obs"), x["var"].alias("var"),
            x["va"].alias("va"), y["vb"].alias("vb"),
        )

    pairs = F.zip_with("e", shifted, lambda x, y: F.array(
        pair(1, x, x),
        F.when((y["pos"] == (x["pos"] + 1) % x["nn"]) & (y["var"] != x["var"]), pair(0, x, y)),
    ))
    return (
        entries.select("blk", F.inline(F.filter(F.flatten(pairs), lambda p: p.isNotNull())))
        .groupBy("blk", "var", "is_obs")
        .agg(F.round(pearson_corr("va", "vb"), 6).alias("r"), F.count(F.lit(1)).alias("n"))
        .where(F.col("r").isNotNull())
    )


def permutation_fdr(series: DataFrame) -> DataFrame:
    """Per observed ``(blk, var)``: ``r``, ``n``, ``perm_pv`` = the fraction
    of the block's null ``r`` at least as extreme (ties count), with +1
    smoothing mirroring the reference's prepended 0 sentinel (R:130), and
    its BH ``pv_adj`` (R:158).  ``series`` is as for
    :func:`cyclic_pair_stats`; the plan fires no job until an action."""
    nulls = 1 - F.col("is_obs")
    w = Window.partitionBy("blk")
    pv = (
        cyclic_pair_stats(series)
        .select(
            "blk", "var", "r", "n", "is_obs",
            F.sum(nulls).over(w.orderBy(F.desc("r"), "is_obs")).alias("ge"),
            F.sum(nulls).over(w).alias("nulls"),
        )
        .where(F.col("is_obs") == 1)
        .select(
            "blk", "var", "r", "n",
            F.round((F.col("ge") + 1.0) / (F.col("nulls") + 1.0), 6).alias("perm_pv"),
        )
    )
    return bh_adjust(pv, "perm_pv", ["blk"], ["var"])
