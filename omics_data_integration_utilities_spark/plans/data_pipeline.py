"""§north-star composite: the end-to-end training-data curation pipeline.

The LLM-side analogue of the §3.2 mass-annotation flagship: the verified
document operators composed in production order —

  quality filter (Gopher rules) → PII scrub → exact dedup on the
  SCRUBBED text → single-pass near-dup drop (n-gram Jaccard) →
  token accounting → deterministic split assignment

— as ONE lazy plan.  Scrubbing precedes dedup deliberately: two
documents differing only in contact details are duplicates after
redaction (the same normalize-before-dedup ordering production
pipelines use).

Plan shape, stage by stage (scale notes):
- Gopher rules + scrub: two chained projections, zero shuffle
  (``passthrough`` keeps the text column so no join back).
- Exact dedup: one window over ``md5(scrubbed)`` (full tie-break on id)
  — the same single shuffle a groupBy-dedup would cost, but keeps every
  surviving row intact (no join back for the text).
- Near-dup: the inverted-index Jaccard join from ``operators.dedup``
  (exact-under-cap, quadratic only inside a posting list), then a
  left-anti join dropping the HIGHER id of every pair ≥ threshold —
  the deterministic keep-first-seen rule.  This is the single-pass
  variant; transitive cluster resolution is ``dedup_components``.
- Token counts + split: pure projections (md5-bucket split —
  partitioning-invariant, append-stable).

Output: (doc_id, split, n_ws_tokens, n_bpe_tokens, n_redactions) for
every SURVIVING document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import ngram_jaccard_pairs
from ..operators.sampling import hash_split
from ..operators.text import (
    bpe_token_count_col,
    gopher_quality_rules,
    scrub_pii,
    token_count_col,
)
from ..session import materialize


def curate_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Run the full curation pipeline over ``docs``; see module docstring."""
    kept = (
        gopher_quality_rules(docs, text_col, id_col, passthrough=(text_col,))
        .where(F.col("keep"))
        .select(id_col, text_col)
    )
    scrubbed = scrub_pii(kept, text_col, id_col)

    # exact dedup on the scrubbed text: min-id representative per digest.
    # r16: min_by aggregation instead of a row_number window — partial
    # map-side combine collapses same-digest rows before the exchange
    # and skips the per-partition sort (guide §2.3); id is unique, so
    # the surviving row is identical to the window form's.
    uniq = (
        scrubbed.groupBy(F.md5(F.col("scrubbed")).alias("__digest"))
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in scrubbed.columns]), F.col(id_col)
            ).alias("__best")
        )
        .select(*[F.col(f"__best.{c}").alias(c) for c in scrubbed.columns])
    )
    # `uniq` fans out to three consumers (the jaccard posting index, the
    # anti-join left side, the token/split projection); checkpoint the
    # branch point so the filter→scrub→window chain runs once, not per
    # branch.  Re-spread first: AQE coalesces the small post-window
    # shuffle to one partition, which would serialize the heavy per-row
    # shingle/pair expansion downstream (bytes-based coalescing cannot
    # see per-row compute cost).
    uniq = materialize(
        uniq.repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    )

    # single-pass near-dup drop: lose the higher id of every pair
    pairs = ngram_jaccard_pairs(
        uniq.select(F.col(id_col), F.col("scrubbed")),
        "scrubbed",
        id_col,
        min_jaccard=min_jaccard,
    )
    survivors = uniq.join(
        pairs.select(F.col("id_b").alias(id_col)).distinct(), id_col, "left_anti"
    )

    counted = survivors.select(
        F.col(id_col),
        F.col("n_redactions"),
        token_count_col(F.col("scrubbed")).cast("long").alias("n_ws_tokens"),
        bpe_token_count_col(F.col("scrubbed")).cast("long").alias("n_bpe_tokens"),
    )
    return hash_split(counted, id_col).select(
        id_col, "split", "n_ws_tokens", "n_bpe_tokens", "n_redactions"
    )


def dataset_card(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    *,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-source dataset card — the summary a corpus release ships:
    document/char/whitespace-token volume, mean composite quality
    (``quality_expr``, the curation gate's own formula — single source
    of truth), exact-duplicate fraction (1 − distinct md5(text)/docs),
    and language spread.

    One aggregation keyed by source.  The two distinct counts make the
    exact form plan an Expand (×3 rows); ``approx=True`` swaps both for
    HLL++ at ``rsd`` — the 100 TB path, same split as
    ``operators/profile.profile_table``.  Either way the shuffle is
    keyed by the low-cardinality source column with map-side partials.
    """
    from ..operators.dedup import tokens_col
    from ..operators.text import quality_expr

    digest = F.md5(F.col(text_col))
    nd = (
        (lambda c: F.approx_count_distinct(c, rsd))
        if approx
        else (lambda c: F.count_distinct(c))
    )
    n_docs = F.count(F.lit(1))
    return docs.groupBy(source_col).agg(
        n_docs.alias("n_docs"),
        F.sum(F.length(F.col(text_col))).alias("n_chars"),
        F.sum(F.size(tokens_col(text_col))).alias("n_ws_tokens"),
        F.round(F.avg(quality_expr(text_col)), 6).alias("mean_quality"),
        F.round(
            F.lit(1) - nd(digest) / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_frac"),
        nd(F.col(lang_col)).alias("n_langs"),
    )
