"""Join operators (SURVEY §2.3 J1-J12).

The signature operator is the **band join** (J4): the reference matches a
mass signature to every structure whose ``monoisotopic_mass`` falls in a
±ppm window, implemented three different ways in pandas (nested loop,
boolean mask, numpy broadcast — ``queryMassNPDB.py:42-85``,
``queryMassNPDB_mod.py:127-141``), all O(n·m) and chunked by hand to fit
memory.

At 100 TB a theta join must NOT plan as BroadcastNestedLoopJoin unless one
side is truly tiny, so :func:`band_join` rewrites the interval predicate as
a **grid-bucketed equi-join**: both sides are keyed by ``floor(x / w)``
(the interval side exploded over every bucket its interval covers), the
equi-join shuffles hash-partitioned on the bucket key (AQE handles skew),
and the exact interval predicate filters the candidate pairs.  Each true
pair appears in exactly one bucket — the bucket of the point value — so no
dedup pass is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
    extra_condition: Column | None = None,
) -> DataFrame:
    """Join ``points`` to ``intervals`` where ``lo <= point <= hi``.

    ``bucket_width`` should be on the order of the typical interval width:
    too small explodes the interval side over many buckets, too large makes
    each bucket a mini cross-join.  Scales as an ordinary shuffled
    equi-join (sort-merge / shuffled-hash chosen by Catalyst, AQE skew
    splitting applies) instead of the O(n·m) nested loop the reference
    hand-chunked (``queryMassNPDB_mod.py:33-38``).
    """
    w = F.lit(float(bucket_width))
    p = points.withColumn("__band", F.floor(F.col(point_col) / w).cast("long"))
    iv = intervals.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(F.col(hi_col) / w).cast("long"),
            )
        ),
    )
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    if extra_condition is not None:
        cond = cond & extra_condition
    return p.join(iv, on="__band", how=how).where(cond).drop("__band")


def band_join_broadcast(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
) -> DataFrame:
    """Small-interval-side variant: plain theta join; Catalyst plans a
    BroadcastNestedLoopJoin, which is optimal when ``intervals`` fits in a
    broadcast (e.g. the ~40-row adducts table)."""
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    return points.join(F.broadcast(intervals), cond)


def adduct_expand(
    signatures: DataFrame,
    adducts: DataFrame,
    mz_col: str = "mz",
    ppm: float = 30.0,
    mass_col: str = "Mass",
    mult_col: str = "Mult",
) -> DataFrame:
    """Adduct cross-expansion (J5 + F7), reference
    ``queryMassNPDB_mod.py:115-125`` / ``gizmos.py:147-172``.

    The reference replicates the adducts table once per signature chunk with
    ``pd.concat([adducts]*n)``; here it is one broadcast cross join (the
    adducts dim is tiny), followed by the back-calculated neutral mass
    ``mm = (mz − Mass)/Mult`` and its ±ppm window.
    """
    out = signatures.crossJoin(F.broadcast(adducts))
    out = out.withColumn("mm", (F.col(mz_col) - F.col(mass_col)) / F.col(mult_col))
    tol = F.col("mm") * F.lit(ppm) / F.lit(1_000_000.0)
    return (
        out.where(F.col("mm") > 0)
        .withColumn("mm_low", F.col("mm") - tol)
        .withColumn("mm_high", F.col("mm") + tol)
    )


def bipartite_event_join(
    mutations: DataFrame,
    edges: DataFrame,
    outliers: DataFrame,
    patient_col: str = "patient",
    mut_gene_col: str = "gene",
    src_col: str = "src",
    dst_col: str = "dst",
    out_gene_col: str = "gene",
    expand_side: str = "mutations",
) -> DataFrame:
    """DriverNet bipartite event join (J12), reference ``DriverNet/Graph.R``
    ``.buildAggregateBipartiteGraph``.

    Event iff gene g1 is mutated in patient p ∧ (g1,g2) is an influence
    edge ∧ g2 is an expression outlier in p.  Two equi-joins; the
    influence-edge table is usually the broadcastable side.

    ``expand_side`` picks which big side the broadcast edge join fans out
    BEFORE the patient-level shuffle join — the result is identical
    (inner joins reassociate), only the shuffle volume changes: the
    expanded side moves |rows| x (edges per gene) through the exchange.
    Pass ``"outliers"`` when |outliers| x (edges per dst) is the smaller
    product — e.g. a dense influence graph fanning every mutation out to
    many targets (guide §2.3: shuffle fewer bytes; §3.3: explode after
    the join you can, not before the one you can't).
    """
    if expand_side not in ("mutations", "outliers"):
        raise ValueError(
            f"bipartite_event_join: expand_side must be 'mutations' or "
            f"'outliers', got {expand_side!r}"
        )
    m = mutations.select(
        F.col(patient_col).alias("patient"), F.col(mut_gene_col).alias("mut_gene")
    )
    e = edges.select(F.col(src_col).alias("mut_gene"), F.col(dst_col).alias("out_gene"))
    o = outliers.select(
        F.col(patient_col).alias("patient"), F.col(out_gene_col).alias("out_gene")
    )
    if expand_side == "outliers":
        # fan out the OUTLIER side by the broadcast edges, then one
        # patient-level join against the un-expanded mutations; column
        # order pinned to the historical (patient, out_gene, mut_gene)
        return (
            m.join(o.join(F.broadcast(e), "out_gene"), ["patient", "mut_gene"])
            .select("patient", "out_gene", "mut_gene")
        )
    return m.join(F.broadcast(e), "mut_gene").join(o, ["patient", "out_gene"])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: "list[str]",
    ts_col: str,
    right_value_cols: "list[str]",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: every left row picks the most recent right row with
    the same key and ``right.ts <= left.ts`` (ties at equal ts match —
    the standard "at-or-before" semantics, DuckDB ``ASOF LEFT JOIN`` /
    pandas ``merge_asof`` compatible).  Spark has no native form; the
    naive range-join is O(n·m) per key.

    Implemented as the scalable union-window composition: tag sides,
    union, ONE window per key ordered by (ts, side) with
    ``last(..., ignorenulls=True)`` carrying the right row's values
    forward onto later left rows — one shuffle+sort total, no join
    node, no per-key quadratic work.  Ordering puts the right side
    FIRST at equal timestamps so an exactly-simultaneous right row
    matches.

    ``right_value_cols`` come back as ``matched_<col>`` plus
    ``matched_<ts_col>`` (null when no right row precedes).  The RIGHT
    side must be unique per (key, ts) — pre-aggregate duplicates to
    one row (e.g. ``max_by``) or the carried values are
    order-dependent; uniqueness is the caller's contract, same as
    pandas ``merge_asof``.  ``tolerance`` (same units as ``ts_col``)
    nulls out matches older than ``left.ts - tolerance``.

    NULL right values are preserved: the window carries ONE struct of
    (ts, *values) per right row — the struct itself is non-null for
    every right row even when individual value fields are NULL — so a
    matched row whose value is NULL yields ``matched_<col> IS NULL``
    with ``matched_<ts_col>`` still reporting that row, exactly as
    DuckDB ``ASOF LEFT JOIN`` / pandas ``merge_asof`` do.  (Per-column
    ``last(ignorenulls)`` would skip the genuine NULL and carry an
    OLDER row's value while reporting the newer ts.)

    Scale note: the window partitions by key — per-partition size is
    the per-key event count, the same bound every per-user session
    window in ``streaming/events.py`` carries; skew in a hot key is
    real but identical to the groupBy alternative's, and AQE cannot
    split windows, so salt upstream if one key dominates.
    """
    from pyspark.sql import Window

    lv = left.withColumn("__side", F.lit(1))
    rv = right.select(
        *[F.col(c) for c in key_cols],
        F.col(ts_col),
        *[F.col(c).alias(f"__rv_{c}") for c in right_value_cols],
    ).withColumn("__side", F.lit(0))
    missing_in_r = [c for c in lv.columns if c not in rv.columns]
    for c in missing_in_r:
        rv = rv.withColumn(c, F.lit(None).cast(lv.schema[c].dataType))
    missing_in_l = [c for c in rv.columns if c not in lv.columns]
    for c in missing_in_l:
        lv = lv.withColumn(c, F.lit(None).cast(rv.schema[c].dataType))
    both = lv.unionByName(rv)

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ONE carried struct (never null for a right row, even when its
    # value fields are) — see the NULL-preservation note in the docstring
    right_struct = F.when(
        F.col("__side") == 0,
        F.struct(
            F.col(ts_col).alias("__ts"),
            *[F.col(f"__rv_{c}").alias(c) for c in right_value_cols],
        ),
    )
    carried = both.select(
        "*",
        F.last(right_struct, ignorenulls=True).over(w).alias("__match"),
    )
    out = (
        carried.where(F.col("__side") == 1)
        .select(
            "*",
            F.col("__match.__ts").alias(f"matched_{ts_col}"),
            *[
                F.col(f"__match.{c}").alias(f"matched_{c}")
                for c in right_value_cols
            ],
        )
        .drop("__side", "__match", *[f"__rv_{c}" for c in right_value_cols])
    )
    if tolerance is not None:
        # one projection: nulling matched_{ts} via withColumn FIRST would
        # make later columns' staleness test read the already-nulled ts
        # (null comparison → otherwise-branch → the stale value survives)
        stale = F.col(f"matched_{ts_col}") < F.col(ts_col) - F.lit(tolerance)
        matched = [f"matched_{ts_col}"] + [f"matched_{c}" for c in right_value_cols]
        out = out.select(
            *[c for c in out.columns if c not in matched],
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in matched
            ],
        )
    return out


def upsert_snapshot(
    target: DataFrame,
    updates: DataFrame,
    key_cols: "list[str]",
) -> DataFrame:
    """Snapshot MERGE (upsert): rows from ``updates`` replace same-key
    rows in ``target``; new keys insert; untouched target rows carry
    through — the re-ingest/correction staple a lakehouse MERGE INTO
    performs, expressed engine-agnostically (no Delta/Iceberg needed)
    as one anti-join + union.

    Columns must match (unionByName).  ``updates`` is assumed unique per
    key (dedupe upstream with ``arg_extreme_dedup`` when it is not —
    passing duplicates through would silently fan out the snapshot).

    Scale shape: ONE left-anti shuffle on the key plus a union — the
    anti side's build is the (small) update batch, so AQE broadcasts
    it and the target is never shuffled at all in the common
    small-batch case; the output is written back partitioned however
    the sink wants.  Cost is O(target scan + batch), the same bound as
    the lakehouse MERGE's file-rewrite plan, without table-format
    machinery.
    """
    return target.join(updates, key_cols, "left_anti").unionByName(updates)
