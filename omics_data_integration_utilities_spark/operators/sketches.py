"""Sketch-backed exact operators: frequency summaries that trade a
bounded sketch pass for the full-cardinality shuffle (north-star
surface; the reference computes frequencies with plain grouped counts
at its data sizes — e.g. the transition-frequency analysis around
integrative_omics/getMassTransitions.py — which is the comparator the
certificate falls back to).

The core is :func:`frequent_items` — generic exact top-k over ANY key
column via a per-partition Misra-Gries sketch, an exact candidate
recount, and a certificate.  ``operators.text.heavy_hitters`` is the
n-gram instantiation; the generic form doubles as the hot-KEY detector
a join-salting decision needs (find the keys that would skew a shuffle
WITHOUT shuffling the key space to count them), and the weighted form
ranks keys by an integral mass column (domains by total tokens, users
by total bytes) under the same bound with N = total weight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def _misra_gries_partition(key_col: str, capacity: int, weight_col: str | None = None):
    """Arrow-batched per-partition Misra-Gries summary over a key column
    (optionally weighted by an integral column).  Emits one row per
    surviving candidate (key, part_rows=0) plus ONE sentinel row per
    partition (key NULL, part_rows=<total items-or-weight in this
    partition>) so the caller can reconstruct the total N without a
    second scan.

    Invariant (standard MG / Agarwal et al. 2013 mergeability): after
    processing n_p units of mass (1 per row unweighted, the row's weight
    otherwise), every stored count is within n_p/(capacity+1) of the
    key's true partition mass, and any key NOT stored has true partition
    mass <= n_p/(capacity+1).  Each Arrow batch is counted exactly
    (``value_counts`` / grouped weight sum) and merged into the summary;
    a trim subtracts the (capacity+1)-th largest stored count from every
    entry and drops the non-positive ones — removing >= (capacity+1)*thr
    mass, which is what bounds the total subtraction by n_p/(capacity+1).
    The weighted generalization is exact because a weight-w arrival is
    equivalent to w unit arrivals of the same key processed back-to-back.
    """

    def run(batches):
        import pandas as pd

        counts: dict = {}
        total = 0
        for pdf in batches:
            if weight_col is None:
                vc = pdf[key_col].value_counts()  # dropna: nulls excluded
            else:
                sub = pdf[[key_col, weight_col]].dropna()
                if (sub[weight_col] < 0).any():
                    raise ValueError(
                        f"frequent_items: weight column {weight_col!r} has "
                        "negative values — MG mass must be non-negative"
                    )
                vc = sub.groupby(key_col, sort=False)[weight_col].sum()
            total += int(vc.sum())
            for g, c in vc.items():
                counts[g] = counts.get(g, 0) + int(c)
            if len(counts) > capacity:
                vals = sorted(counts.values(), reverse=True)
                thr = vals[capacity]
                counts = {g: v - thr for g, v in counts.items() if v > thr}
        # The sentinel's NULL key must NOT coerce the key column: a plain
        # list of int64 keys + [None] becomes float64 in pandas, silently
        # rounding keys above 2**53 BEFORE Arrow casts back to long —
        # wrong candidates under a still-valid certificate.  dtype=object
        # keeps every key exact (python ints / strings / timestamps pass
        # through Arrow's per-value conversion losslessly).
        yield pd.DataFrame(
            {
                key_col: pd.Series(
                    list(counts.keys()) + [None], dtype="object"
                ),
                "part_rows": [0] * len(counts) + [total],
            }
        )

    return run


def frequent_items(
    df: DataFrame,
    key_col: str,
    k: int = 50,
    capacity: int = 4096,
    count_col: str = "n_occurrences",
    weight_col: str | None = None,
    return_total: bool = False,
):
    """Exact top-``k`` values of ``key_col`` by count — or by
    SUM(``weight_col``) when given — WITHOUT a full key-cardinality
    shuffle.  NULL keys (and NULL/absent weights) are excluded;
    ``weight_col`` must be integral and non-negative (token counts,
    byte sizes — integral mass keeps the certificate arithmetic exact;
    a zero weight contributes nothing, exactly like the brute force).
    Returns (``key_col``, ``count_col``) ordered mass desc, key asc —
    always the exact answer, independent of partitioning; only the PLAN
    depends on the data:

    1. Per-partition Misra-Gries sketch (:func:`_misra_gries_partition`)
       — <= ``capacity`` candidates per partition; the only shuffle is
       the candidate distinct, O(capacity x partitions) rows no matter
       how many distinct keys exist.
    2. Exact recount of candidates over a second scan: the item stream
       LEFT SEMI joins the candidate distinct.  Spark builds a left semi
       join only from its right side, so the unbounded item stream can
       never be broadcast; AQE broadcasts the candidate set when it
       measures it small at run time, and sort-merges otherwise.
    3. Certificate: by the MG bound any key absent from every partition
       summary has global mass <= N/(capacity+1) (N = total row count,
       or total weight in the weighted form), so if the k-th recounted
       mass strictly exceeds N/(capacity+1) the candidate top-k IS the
       global top-k (returned as a k-row materialization).  Otherwise
       fall back to the exact groupBy — correct for any data, just not
       cheaper than brute force.

    When a partition's distinct keys never exceed ``capacity`` the
    sketch is lossless and the recount shuffles what the brute force
    would — the capacity-bounded savings appear exactly when
    per-partition distinct >> capacity (SCALE.md r12's heavy_hitters
    probe measures both regimes on the n-gram instantiation).

    Besides corpus analysis, this is the hot-key detector for shuffle
    skew: run it on a join key BEFORE the join and salt (or
    broadcast-split) the returned keys — the detection itself never
    pays the skewed shuffle it exists to avoid.  The weighted form
    answers mixture questions (which domains contribute the most
    tokens) at the same cost.

    ``return_total=True`` returns ``(df, n_total)`` — the exact total
    mass the sketch already summed from its sentinel rows — so callers
    needing a hotness DENOMINATOR (skew_aware_join's threshold) don't
    pay a redundant extra scan to recount it.
    """
    key_type = dict(df.dtypes)[key_col]
    if weight_col is not None:
        # Integral-mass contract, ENFORCED (not just documented): a float
        # weight would be silently truncated per-candidate inside the
        # sketch, corrupting both the masses and the MG certificate
        # arithmetic while still returning a valid-looking answer.  Scale
        # fractional weights to integers (e.g. micro-units) upstream.
        w_type = dict(df.dtypes)[weight_col]
        if w_type not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"frequent_items: weight column {weight_col!r} must be an "
                f"integral type (tinyint/smallint/int/bigint), got {w_type!r}"
                " — scale fractional weights to integers upstream"
            )
    if weight_col is None:
        items = df.select(key_col).where(F.col(key_col).isNotNull())
        mass = F.count(F.lit(1))
    else:
        items = df.select(key_col, weight_col).where(
            F.col(key_col).isNotNull() & F.col(weight_col).isNotNull()
        )
        mass = F.sum(weight_col)
    # phase 1 runs once and feeds candidates AND N; the n_total
    # aggregation below is the job that runs the MG scan and stores it
    summary = materialize(
        items.mapInPandas(
            _misra_gries_partition(key_col, capacity, weight_col),
            schema=f"`{key_col}` {key_type}, part_rows long",
        )
    )
    n_total = (
        summary.where(F.col(key_col).isNull())
        .agg(F.sum("part_rows"))
        .first()[0]
        or 0
    )
    cands = summary.where(F.col(key_col).isNotNull()).select(key_col).distinct()
    exact = (
        items.join(cands, key_col, "left_semi")
        .groupBy(key_col)
        .agg(mass.alias(count_col))
    )
    top = exact.orderBy(F.col(count_col).desc(), F.col(key_col).asc()).limit(k)
    rows = top.collect()  # k rows: the certificate check is driver-side
    if len(rows) >= k and rows[-1][count_col] * (capacity + 1) > n_total:
        # certified exact: materialize the k rows (avoids re-running
        # both scans when the caller consumes the returned frame); one
        # slice — createDataFrame's default defaultParallelism slicing
        # costs a Python-worker round trip per slice downstream
        spark_ = df.sparkSession
        out = spark_.createDataFrame(
            spark_.sparkContext.parallelize(rows, 1), top.schema
        )
        return (out, int(n_total)) if return_total else out
    # failed certificate (no true heavy hitters at this capacity, or
    # fewer than k candidates): exact full-groupBy fallback
    out = (
        items.groupBy(key_col)
        .agg(mass.alias(count_col))
        .orderBy(F.col(count_col).desc(), F.col(key_col).asc())
        .limit(k)
    )
    return (out, int(n_total)) if return_total else out
