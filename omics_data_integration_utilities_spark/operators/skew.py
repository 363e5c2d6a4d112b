"""Skew-mitigation utilities (SURVEY §4: band-join skew — masses cluster
around common compound weights; same story for hot document shingles and
hot join keys at 100 TB).

Two tools beyond AQE's runtime skew-join splitting:

- :func:`salted_join` — explicit key salting for shuffle joins where one
  side has hot keys: the hot side gets a random-ish (deterministic,
  hash-derived) salt in [0, n), the other side explodes over all n salts.
  Use when AQE can't help (e.g. aggregations feeding the join, or
  deliberately partitioned state).
- :func:`salted_group_count` — two-phase aggregation for hot group keys:
  partial count per (key, salt) then final sum per key.  Spark's hash
  aggregate already does map-side partials; this pattern matters for
  aggregates that DON'T partial well (collect_list/exact distinct).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt_col(cols: list[str], n: int) -> Column:
    # deterministic salt from the row content: reruns place rows in the
    # same salt bucket (xxhash64 is a stable Spark builtin)
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n)).cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_source: list[str] | None = None,
) -> DataFrame:
    """Equi-join with the skewed side salted and the other side replicated
    over every salt value.  Result equals ``skewed.join(other, on, how)``
    for inner/left joins; the ``other`` side is typically the smaller one
    (its rows are duplicated ``n_salts``×).

    Only inner/left are accepted: a right or full-outer join through a
    REPLICATED right side would emit each unmatched right row once per
    salt — silently wrong, so it raises instead."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}: an outer "
            "join through the replicated side would duplicate unmatched "
            "rows once per salt"
        )
    salt_source = salt_source or [c for c in skewed.columns if c not in on]
    if not salt_source:
        salt_source = on
    s = skewed.withColumn("__salt", _salt_col(salt_source, n_salts))
    o = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    return s.join(o, on + ["__salt"], how).drop("__salt")


def skew_aware_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    hot_keys: "list | None" = None,
    n_salts: int = 8,
    how: str = "inner",
    detect_k: int = 20,
    detect_capacity: int = 4096,
    detect_sample_fraction: float | None = None,
    hot_threshold: float = 0.01,
) -> DataFrame:
    """Equi-join with hot keys detected and routed through
    :func:`salted_join`, everything else through the plain join — the
    detect→route composition as one operator (single-key joins;
    ``how`` inner or left).

    Detection uses ``sketches.frequent_items`` (the capacity-bounded
    Misra-Gries sketch, so finding the hot keys never pays the skewed
    full-cardinality shuffle this operator exists to avoid); a key is
    hot when it owns more than ``hot_threshold`` of the scanned rows.
    Pass ``detect_sample_fraction`` to detect on a sample — for ROUTING
    a ≥1%-hot key is found by a 2% sample with near-certainty, at a
    fraction of the scan (measured: SCALE.md r13, salted-join probe); exact
    detection only matters when the hot set feeds a cost model.  Or
    pass ``hot_keys`` explicitly (e.g. from a previous run on the same
    key distribution) and skip detection entirely.

    The result is routing-invariant — always equal to
    ``skewed.join(other, on, how)`` — which the registered
    ``events_salted_join`` query proves against a plain-SQL-join
    oracle; the straggler-collapse measurement lives in
    SCALE.md r13.

    Use when AQE's runtime skew splitting can't rewrite the exchange
    (aggregation-feeding joins, pre-partitioned state) or when the hot
    keys are known ahead of time; otherwise let AQE handle it.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        # validate UP FRONT: this must not depend on whether any key
        # happens to clear the hotness threshold today (a data-dependent
        # rejection would let how='full' run fine on uniform data and
        # crash the day the data skews)
        raise ValueError(
            f"skew_aware_join supports inner/left joins, got {how!r}"
        )
    if len(on) != 1:
        raise ValueError("skew_aware_join detects on a single key column")
    key = on[0]
    if hot_keys is None:
        from .sketches import frequent_items

        scan = skewed.where(F.col(key).isNotNull())
        if detect_sample_fraction is not None:
            scan = scan.sample(fraction=float(detect_sample_fraction), seed=13)
        # hotness is relative to what the detector SAW (sample or full
        # scan — the ownership ratio is the same in expectation);
        # n_scanned comes from the sketch's own sentinel total, no
        # extra recount scan
        counts, n_scanned = frequent_items(
            scan, key, k=detect_k, capacity=detect_capacity,
            count_col="__n", return_total=True,
        )
        counts = counts.collect()  # ≤ k rows: the bounded detector output
        hot_keys = [
            r[key] for r in counts if r["__n"] > hot_threshold * n_scanned
        ]
    # a NULL in an externally supplied hot set would turn BOTH routing
    # filters NULL for every non-hot row (isin with a NULL never matches
    # and never rejects) — those rows would silently vanish; NULL keys
    # never join anyway, so drop it from the set
    hot_keys = [k_ for k_ in hot_keys if k_ is not None]
    if not hot_keys:
        return skewed.join(other, on, how)
    hot_rows = skewed.where(F.col(key).isin(list(hot_keys)))
    cold_rows = skewed.where(
        ~F.col(key).isin(list(hot_keys)) | F.col(key).isNull()
    )
    if how == "inner":
        cold_rows = cold_rows.where(F.col(key).isNotNull())
    salted = salted_join(hot_rows, other, on, n_salts=n_salts, how=how)
    plain = cold_rows.join(other, on, how)
    return salted.unionByName(plain)


def salted_group_count(
    df: DataFrame, key_cols: list[str], n_salts: int = 8, count_col: str = "n"
) -> DataFrame:
    """Two-phase count: (key, salt) partials → key totals."""
    salted = df.withColumn("__salt", _salt_col(df.columns, n_salts))
    partial = salted.groupBy(*key_cols, "__salt").agg(F.count(F.lit(1)).alias("__pc"))
    return partial.groupBy(*key_cols).agg(F.sum("__pc").alias(count_col))
