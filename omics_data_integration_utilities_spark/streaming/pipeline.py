"""Ingest curation report: quality gate → exact dedup by content hash.

The flagship (``plans/data_pipeline.py``) curates a corpus in one
composed plan; this is the INGEST-time report — low-quality documents
drop at the gate (a pure JVM projection, the same ``quality_expr`` the
scorer uses), and exact duplicates collapse on the content hash.
Which duplicate's id survives a dedup is order-dependent, so the report
counts hashes, never representative ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import quality_expr


def _gated_projection(
    df: DataFrame, text_col: str, id_col: str, min_quality: float
) -> DataFrame:
    """The shared gate: one JVM projection (id, source, content_hash,
    quality) filtered at ``min_quality`` — the single source of truth
    for the gate, shared by the curation report and by ingest callers
    that dedup and commit the gated rows."""
    return df.select(
        F.col(id_col),
        F.col("source"),
        F.md5(F.col(text_col)).alias("content_hash"),
        F.round(quality_expr(text_col), 6).alias("quality"),
    ).where(F.col("quality") >= F.lit(float(min_quality)))


def curate_doc_batch_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
) -> DataFrame:
    """The deterministic curation report: per source ``(n_in, n_gated,
    n_kept_hashes)`` plus an ``__all__`` row whose ``n_kept_hashes`` is
    the GLOBAL distinct-content count — the number of rows a
    ``dropDuplicates(["content_hash"])`` on the gated projection keeps
    (which duplicate's id survives is order-dependent, so the invariant
    is hash-set cardinality, never representative ids; per-source kept
    counts use within-source distinct for the same reason).

    Scale shape: the gate is one projection (no shuffle), then one
    groupBy(source) with a distinct-count — partial aggregation on (source, hash) before the exchange —
    plus one global aggregate; no joins, no windows, no collect.
    """
    gated = _gated_projection(df, text_col, id_col, min_quality)
    totals = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
    per_source = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_gated"),
        F.count_distinct(F.col("content_hash")).alias("n_kept_hashes"),
    )
    # null-SAFE equi-join: groupBy treats NULL source as one group (so
    # does the SQL oracle's GROUP BY), but a null-unsafe join key would
    # drop that group's gated counts to the fillna zeros — latent
    # divergence on NULL-source corpora
    by_source = (
        totals.join(
            per_source,
            totals["source"].eqNullSafe(per_source["source"]),
            "left",
        )
        .drop(per_source["source"])
        .fillna(0, ["n_gated", "n_kept_hashes"])
    )
    overall = df.agg(F.count(F.lit(1)).alias("n_in")).crossJoin(
        gated.agg(
            F.count(F.lit(1)).alias("n_gated"),
            F.count_distinct(F.col("content_hash")).alias("n_kept_hashes"),
        )
    ).select(F.lit("__all__").alias("source"), "n_in", "n_gated", "n_kept_hashes")
    return by_source.unionByName(overall)
