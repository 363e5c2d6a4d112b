"""Mass-annotation pipeline — the reference's §3.2 lifecycle
(``queryMassNPDB_mod.py``) as one declarative Spark plan.

Reference dataflow: read adducts + mass signatures + NPDB structures →
chunk signatures by hand → per chunk: ppm window, adduct cross join, numpy
broadcast range join, dedup, append to SQLite.  The hand-chunking exists
only because pandas could not hold the cross product
(``pathMassTransitions.py:267-268``: ~2.8 M rows).

Spark restatement: ONE plan — broadcast-crossJoin the tiny adducts dim
(J5), compute ``mm`` and its ±ppm window (F7), grid-bucketed band join
(J4) against the structure table, deterministic dedup (A2 via A6 window).
No chunk loop; partitioning bounds memory, AQE splits skewed mass buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import adduct_expand, band_join
from ..operators.windows import arg_extreme_dedup
from ..sources.readers import local_frame

# ESI adduct reference rows (Ion_name, Mass offset, Mult divisor) — shape of
# FIXTURES.md §2; values here are the three most common positive-mode adducts.
DEFAULT_ADDUCTS: list[tuple[str, float, float]] = [
    ("M+H", 1.007276, 1.0),
    ("M+Na", 22.989218, 1.0),
    ("2M+H", 1.007276, 2.0),
]


def default_adducts(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DEFAULT_ADDUCTS, "Ion_name string, Mass double, Mult double")


def mass_annotation_plan(
    signatures: DataFrame,
    structures: DataFrame,
    adducts: DataFrame,
    ppm: float = 30.0,
    bucket_width: float | None = None,
    ms_name_col: str = "ms_name",
    mz_col: str = "mz",
    structure_id_col: str = "structure_id",
    structure_mass_col: str = "monoisotopic_mass",
) -> DataFrame:
    """signatures(ms_name, mz) × adducts → band join vs structures → best
    match per (signature, structure): the ``predicted_structures`` output
    of ``queryMassNPDB_mod.py`` with deterministic dedup.

    ``bucket_width`` defaults to the widest expected window so each
    interval explodes to ≤2 grid buckets.
    """
    expanded = adduct_expand(signatures, adducts, mz_col=mz_col, ppm=ppm)
    if bucket_width is None:
        # widest window ≈ 2·ppm·max(mm)/1e6; a coarse static default is fine
        # because the exact predicate re-filters.
        bucket_width = 1.0
    matched = band_join(
        structures.select(
            F.col(structure_id_col).alias("structure_id"),
            F.col(structure_mass_col).alias("monoisotopic_mass"),
        ),
        expanded,
        point_col="monoisotopic_mass",
        lo_col="mm_low",
        hi_col="mm_high",
        bucket_width=bucket_width,
    )
    matched = matched.withColumn(
        "ppm_error",
        F.round(
            F.abs(F.col("monoisotopic_mass") - F.col("mm")) / F.col("mm") * 1_000_000.0, 4
        ),
    )
    # one row per (signature, structure): keep the lowest-ppm-error adduct,
    # ties broken on Ion_name — deterministic (reference relied on row order)
    return arg_extreme_dedup(
        matched.select(
            ms_name_col, "structure_id", "Ion_name", F.round("mm", 6).alias("mm"), "ppm_error"
        ),
        key_cols=[ms_name_col, "structure_id"],
        order_col="ppm_error",
        ascending=True,
        tie_break=["Ion_name"],
    )
