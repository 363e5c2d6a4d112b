"""Deduplication operators for large-scale document pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash + LSH near-dup, SimHash, and n-gram Jaccard — all built from the
same join/window machinery as the omics operators (SURVEY §7 M8).

Scale design
------------
- Exact dedup: hash-groupBy, one shuffle on the 60-bit content hash.
- MinHash signatures: computed **entirely with array higher-order
  functions** (transform/aggregate over the token array) — zero shuffle,
  zero UDF; the signature never leaves the row until LSH banding.
- LSH: explode 4 band keys per doc (4 rows/doc, not |shingles| rows), one
  shuffle on the band key, self-join within buckets.  Bucket skew is the
  known hazard; AQE skew-join handles it, and verification re-filters with
  exact Jaccard so over-full buckets only cost time, not correctness.
- All hashing is md5-based and engine-portable (see ``constants.py``), so
  the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import (
    MAX_POSTING,
    MINHASH_BANDS,
    MINHASH_P,
    MINHASH_PERMS,
    MINHASH_ROWS_PER_BAND,
    SHINGLE_WIDTH,
    SIMHASH_BITS,
)
from ..session import materialize


def tokens_col(text: Column | str, sep: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def shingles_from_tokens(toks: Column, width: int = SHINGLE_WIDTH) -> Column:
    """Distinct ``width``-word shingles from a (materialized) token array.

    IMPORTANT: pass a *column reference* to an already-projected token
    array.  Higher-order lambdas are interpreted, so an inline
    ``split(text)`` here would re-tokenize the string for every
    ``element_at`` call (width × |shingles| times per row).
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - F.lit(width - 1))
    parts = lambda i: [F.element_at(toks, i + j) for j in range(width)]  # noqa: E731
    shingle = lambda i: F.concat_ws(" ", *parts(i))  # noqa: E731
    return F.when(n >= width, F.array_distinct(F.transform(idx, shingle))).otherwise(
        F.array().cast("array<string>")
    )


def _perm_lambda(a: int, b: int):
    # NB: must be a real 1-arg lambda — default-arg closures change the
    # visible arity and break Spark's higher-order-function binding
    return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P


def with_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, width: int = SHINGLE_WIDTH
) -> DataFrame:
    """(id, __h): md5-derived shingle-hash array, via staged projections.

    Stage 1 materializes the token array (so shingle assembly reads a
    column, not |shingles|·width re-splits of the text); stage 2 builds
    distinct shingles and hashes them.  Both stages are row-local — zero
    shuffle at any scale."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    hashes = F.transform(
        shingles_from_tokens(F.col("__toks"), width),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_P,
    )
    return toks.select(id_col, hashes.alias("__h"))


def _sig_from_hashes_col() -> Column:
    """The 16-permutation signature array over a materialized ``__h``
    column — the single definition every signature consumer (long form,
    band keys, the wide incremental shape) derives from, so a
    permutation/constant change cannot desynchronize them."""
    return F.array(
        *[F.array_min(F.transform(F.col("__h"), _perm_lambda(a, b))) for a, b in MINHASH_PERMS]
    )


def with_minhash_signature(
    df: DataFrame, text_col: str, id_col: str, width: int = SHINGLE_WIDTH
) -> DataFrame:
    """(id, __sig) with tokens and shingle hashes each evaluated exactly
    once: the 16 permutation minima reference the materialized ``__h``
    column (CollapseProject keeps expensive multiply-referenced
    expressions un-inlined, so the md5 chain runs once per row)."""
    hashed = with_shingle_hashes(df, text_col, id_col, width)
    return hashed.select(id_col, _sig_from_hashes_col().alias("__sig"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct content digest.

    Groups on the FULL 128-bit md5 digest — at billions of documents the
    60-bit display key alone would silently merge distinct documents
    (birthday collisions from ~2^30 keys); the reported ``content_hash``
    is derived from the digest for compact downstream joins but never
    decides group membership.  Returns (content_hash, keep_id, n_copies).
    """
    digest = (
        df.select(F.md5(F.col(text_col)).alias("__digest"), F.col(id_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    return digest.select(
        F.conv(F.substring("__digest", 1, 15), 16, 10).cast("long").alias("content_hash"),
        "keep_id",
        "n_copies",
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Long-form (id, perm, minhash) signature table.

    ``posexplode_outer``, not ``posexplode``: the inner variant makes
    Catalyst synthesize a ``size(sig) > 0`` filter and push it below the
    exchange, which inlines the whole 16-permutation md5 chain into a
    pre-shuffle filter (observed 30× slowdown).  The signature array is a
    16-element constructor — never empty — so outer is output-identical.
    """
    sig = with_minhash_signature(df, text_col, id_col)
    return sig.select(
        id_col,
        F.posexplode_outer("__sig").alias("perm", "minhash"),
    )


def _band_keys_array() -> Column:
    """The 4-element LSH band-key array over a ``__sig`` column — md5 of
    each band's minhash slice; shared by the long-form and wide-form
    band-key shapes."""
    r = MINHASH_ROWS_PER_BAND
    return F.array(
        *[
            F.md5(F.concat_ws(",", *[F.element_at("__sig", b * r + i + 1).cast("string") for i in range(r)]))
            for b in range(MINHASH_BANDS)
        ]
    )


def lsh_band_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, band, band_key) — band_key is the md5 of the band's minhash
    slice; docs sharing a band_key are near-dup candidates."""
    sig = with_minhash_signature(df, text_col, id_col)
    # outer for the same Generate-filter-pushdown reason as
    # minhash_signatures; the bands array is a 4-element constructor
    return sig.select(
        id_col, F.posexplode_outer(_band_keys_array()).alias("band", "band_key")
    )


def _pairs_from_ids(ids_col: Column) -> Column:
    """All (a < b) pairs from an id array — in-row expansion, used instead
    of a self-join so the upstream (signatures/shingles) is computed once.
    Quadratic only within one posting list; callers bound list sizes."""
    s = F.array_sort(ids_col)
    return F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + 2, F.size(s)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Posting-list formulation: one shuffle groups doc ids per band bucket,
    pairs expand in-row (buckets are small by LSH design).  Buckets larger
    than ``max_posting`` are DROPPED: a degenerate band key at corpus scale
    is one giant row emitting |ids|² pairs that no re-planner can split,
    and a bucket that catches >max_posting docs has lost its locality
    signal.  Use :func:`hot_band_buckets` to audit what the cap drops
    (``hot_posting_keys`` audits shingle document frequency for the
    shingle-based operators, not LSH band buckets).
    The band keys — and the minhash chain under them — are computed exactly
    once, unlike a self-join whose two branches each recompute signatures.

    (r17: the r16 ``signatures=`` passthrough — deriving band keys from a
    caller-materialized signature relation — was removed with the
    accuracy-report revert below; see minhash_estimate_accuracy.)
    """
    keys = lsh_band_keys(df, text_col, id_col)
    buckets = keys.groupBy("band", "band_key").agg(
        F.collect_list(id_col).alias("__ids")
    )
    return (
        buckets.where((F.size("__ids") > 1) & (F.size("__ids") <= max_posting))
        .select(F.explode(_pairs_from_ids(F.col("__ids"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def hot_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """Audit helper for :func:`lsh_candidate_pairs`: LSH band buckets whose
    membership exceeds the posting cap (i.e. the buckets the cap drops),
    with counts — run alongside a capped LSH job to log the drop set."""
    keys = lsh_band_keys(df, text_col, id_col)
    return (
        keys.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_posting)
    )


def hot_posting_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
    width: int = SHINGLE_WIDTH,
) -> DataFrame:
    """Audit helper: shingles whose document frequency exceeds the posting
    cap (i.e. what :func:`ngram_jaccard_pairs` will drop), with counts —
    run it alongside a capped dedup job to log the drop set."""
    sh = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
        .select(F.col(id_col), F.explode_outer(shingles_from_tokens(F.col("__toks"), width)).alias("s"))
        .where(F.col("s").isNotNull())
    )
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_posting)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_jaccard: float = 0.2,
    width: int = SHINGLE_WIDTH,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Inverted-index formulation (the scalable one): explode distinct
    shingles, group doc ids per shingle, count intersections per pair, join
    back per-doc set sizes.  Never materializes the |docs|² pair space —
    only pairs with nonzero intersection exist.  Shingles with document
    frequency above ``max_posting`` are dropped (stop-shingle guard — both
    bounds the in-row |ids|² expansion and removes near-zero-signal
    features); the DuckDB oracle carries the identical bound, and
    :func:`hot_posting_keys` reports what a given cap drops.

    Score semantics under the cap: per-doc set sizes are counted over the
    SAME filtered feature space as the intersections (hot shingles are
    excluded from both), so ``jaccard`` is EXACT over the surviving
    shingles — capping can only remove pairs (whose every shared shingle
    is hot), never bias the score of a surviving pair.  The same holds
    for containment.
    """
    shingle_arr = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).select(F.col(id_col), shingles_from_tokens(F.col("__toks"), width).alias("__sh"))
    # explode_outer: the inner variant pushes a synthesized size()>0 filter
    # below the projection, re-inlining the shingle chain; null shingle
    # rows produce no pairs so outer is result-identical
    sh = shingle_arr.select(F.col(id_col), F.explode_outer("__sh").alias("s"))
    # ONE posting aggregation feeds both the sizes and the pair expansion.
    # The plan stays lazy: both branches share the same groupBy("s")
    # exchange, which AQE runs once and re-reads as a ReusedExchange, so
    # the shingle pipeline runs once without a checkpoint and the build
    # fires no job (SCALE.md "n-gram Jaccard pairs as one lazy plan").
    posts = (
        sh.where(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.collect_list(id_col).alias("__ids"))
        .where(F.size("__ids") <= max_posting)
    )
    sizes = (
        posts.select(F.explode("__ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    inter = (
        posts.where(F.size("__ids") > 1)
        .select(F.explode(_pairs_from_ids(F.col("__ids"))).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    # LEFT joins with the pair-scale `inter` on the left: Spark can only
    # build a LEFT OUTER join from its right side, so neither the static
    # planner nor AQE can ever broadcast `inter` (the r12 >1 GiB driver
    # collect).  The doc-scale size table is broadcast when AQE measures
    # it under the threshold, else both sides shuffle.  Rows equal the
    # inner join's: every id in a surviving posting has a size, because
    # `sizes` counts the same capped postings.
    return (
        inter.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def _simhash_from_hashes(hashes: Column) -> Column:
    """Majority-vote SimHash from a materialized token-hash array column."""
    n = F.size(hashes)

    def bit_test(b: int):
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    terms = []
    for b in range(SIMHASH_BITS):
        ones = F.size(F.filter(hashes, bit_test(b)))
        terms.append(F.when(ones * 2 > n, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long")))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash fingerprints (Charikar majority vote).

    Token hashes are materialized in their own projection so the 32 bit
    terms reference a column, not 32 inlined copies of the md5 chain.
    """
    hashed = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).select(
        F.col(id_col),
        F.transform(
            F.col("__toks"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ).alias("__th"),
    )
    return hashed.select(id_col, _simhash_from_hashes(F.col("__th")).alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    vertices: DataFrame | None = None,
    vertex_col: str | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: connected components by
    min-label propagation with pointer doubling (each round does a hashmin
    step — every vertex takes the min label among its neighbours — then a
    pointer-jump step — label ← label[label]), so the propagation reach
    doubles per round and convergence needs ~log₂(diameter) rounds, not
    diameter rounds.

    This is the missing production step after LSH/Jaccard: pair lists
    can't drive "keep one copy" decisions until they're clustered.
    ``vertices`` (optional) adds isolated docs so singletons appear as
    their own component.  Returns (id, component, is_canonical) where
    component = min id in the cluster and ``is_canonical`` marks the one
    row per cluster a dedup job keeps.

    Scale shape: per round two equi-joins + one groupBy (all shuffle on
    the vertex key).  The loop runs at most ``max_iterations``
    self-checked rounds and stops the first round that changes nothing;
    a graph that has not converged after ``max_iterations`` full rounds
    gets a ``warnings.warn`` (split components would otherwise be
    silent).  With pointer doubling a diameter-D graph converges in
    ~log₂(D) rounds, so the default budget of 30 covers any graph that
    fits on hardware; raise it only if you see the warning.

    r16 note: unlike the pathway loop, these rounds do NOT profit from
    lazy unrolling — a round references its input frame four ways
    (hashmin build, hashmin probe, pointer-jump left, pointer-jump
    right) under DIFFERENT partitionings, so exchange reuse cannot
    dedupe them and a lazy segment re-executes the previous round's
    work ~4×; fully lazy, the tree doubles per round and the optimizer
    stalls for minutes (both measured r16 — per-round materialisation
    is the right shape here).  EVERY round is self-checking at no extra
    join: the round carries its input label through as ``__prev``, so
    the per-round checkpoint doubles as the convergence evidence (one
    O(V) count over already-materialized blocks) — no speculative
    unchecked rounds, no separate prev⋈next materialization, and the
    loop stops the moment a full round changes nothing.  At scale this
    is strictly fewer O(E) passes than any fixed unroll, since a
    converged graph never pays another edge pass.
    """
    import warnings
    # the edge relation is only marked here; the eager labels mark below
    # is the first action that computes it
    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    if vertices is not None:
        vcol = vertex_col or id_a
        nodes = nodes.unionByName(
            vertices.select(F.col(vcol).alias("id"))
        ).distinct()
    labels = materialize(nodes.select("id", F.col("id").alias("component")), eager=True)

    def _round(lbl: DataFrame) -> DataFrame:
        # hashmin: min neighbour label (input label rides along as
        # __prev so the caller's checkpoint can count changed rows
        # without a second join back to the input)
        neigh = (
            edges.join(lbl.select(F.col("id").alias("src"), "component"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("__nmin"))
        )
        stepped = lbl.join(neigh, "id", "left").select(
            "id",
            F.col("component").alias("__prev"),
            F.least(
                F.col("component"), F.coalesce("__nmin", F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component ← component's own label (reach doubles)
        jump = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("__jmin")
        )
        return (
            stepped.join(jump, "component", "left")
            .select(
                "id",
                "__prev",
                F.least(
                    F.col("component"), F.coalesce("__jmin", F.col("component"))
                ).alias("component"),
            )
        )

    converged = False
    for _ in range(max_iterations):
        # the changed count is the round's one job: it computes and
        # stores the marked round output in full
        out = materialize(_round(labels))
        changed = out.where(F.col("component") < F.col("__prev")).count()
        labels = out.select("id", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            "connected_components: max_iterations exhausted before convergence; "
            "returned components may be split (consider raising max_iterations "
            "or switching to large-star/small-star)",
            RuntimeWarning,
        )
    return labels.select(
        "id",
        "component",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """SimHash near-dup PAIRS: band-bucketed candidate generation + exact
    hamming verification — the pairing step on top of
    :func:`simhash_table`'s fingerprints.

    Pigeonhole completeness: with ``n_bands`` equal slices of the
    fingerprint, any pair at hamming distance ≤ ``n_bands − 1`` agrees
    exactly on at least one slice, so bucketing on (band, slice value)
    finds EVERY pair within ``max_hamming`` as long as
    ``max_hamming ≤ n_bands − 1`` (asserted).  The exact distance then
    filters candidates JVM-side (``bit_count(xor)``), so false bucket
    collisions cost time, never correctness.

    Scale shape: one shuffle to bucket (4 rows/doc, not |shingles|), the
    same posting cap as LSH bounds the in-bucket expansion, and the
    verify is two hash joins against the |docs|-row fingerprint table.
    Returns (id_a, id_b, hamming).
    """
    assert max_hamming <= n_bands - 1, "pigeonhole completeness needs max_hamming <= n_bands - 1"
    sh = materialize(simhash_table(df, text_col, id_col), eager=True)  # 1 scan, reused 3x
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    bands = sh.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    cand = (
        bands.groupBy("band", "bkey")
        .agg(F.collect_list(id_col).alias("__ids"))
        .where((F.size("__ids") > 1) & (F.size("__ids") <= max_posting))
        .select(F.explode(_pairs_from_ids(F.col("__ids"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr family): find token
# spans of >= width tokens that occur more than once in the corpus, as
# opposed to the document-level families above.  The reference corpus
# operators (dedup/minhash above) work at document granularity; this is
# the substring-granular sibling a training-data pipeline runs alongside
# them.  Suffix arrays (the paper's single-node structure) don't
# distribute; the Spark-first equivalent is fixed-width token-gram
# fingerprinting: every duplicated substring of length >= width is a run
# of duplicated width-grams, so merging duplicated gram starts into
# maximal islands recovers exactly the duplicated regions at token
# resolution (width-1 tokens of slack at span edges, the standard
# fingerprinting trade).
#
# Scale shape (the 100 TB plan):
# - gram table: |tokens| rows of (id, pos, 128-bit digest) — row-local
#   array expressions + one explode, no UDF; this linear blow-up is the
#   inherent cost of substring granularity (a suffix array is O(tokens)
#   too), and the rows are ~50 bytes each.
# - duplicate detection: groupBy(digest) count — partial map-side
#   combine collapses hot grams (boilerplate spam) BEFORE the shuffle,
#   then grams ⋈ dup-digests is a plain equi-join AQE can turn into a
#   broadcast (few duplicated grams) or skew-split (hot grams) at
#   runtime.  A window count over the digest would be one shuffle
#   cheaper but forfeits both: no partial aggregation and no skew-split
#   (AQE cannot split window partitions).
# - island merge: two same-spec windows per doc_id (lag + running sum)
#   — one sort shuffle, partitions bounded by document length.
# ---------------------------------------------------------------------------


def with_token_grams(
    df: DataFrame, text_col: str, id_col: str, width: int
) -> DataFrame:
    """(id, pos, g): one row per token position, ``g`` the md5 digest of
    the ``width``-token gram starting there (1-based ``pos``).

    Staged like :func:`with_shingle_hashes`: tokens materialize in their
    own projection so gram assembly reads a column.  ``explode_outer`` +
    null filter, not ``explode`` — the inner variant makes Catalyst
    synthesize a ``size(...) > 0`` pre-filter that inlines the whole
    gram-transform chain a second time (the minhash_signatures lesson).
    Docs shorter than ``width`` yield zero rows — guarded with the same
    ``when(n >= width, ...)`` as :func:`shingles_from_tokens`, because
    ``sequence(1, stop)`` with ``stop < 1`` counts DOWN in Spark
    (``[1, 0]``), it does not return the empty array DuckDB's
    ``generate_series`` would.
    """
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    n = F.size("__toks")
    idx = F.sequence(F.lit(1), n - F.lit(width - 1))
    pg = F.when(
        n >= width,
        F.transform(
            idx,
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(
                    F.concat_ws(
                        " ",
                        *[F.element_at(F.col("__toks"), i + F.lit(j)) for j in range(width)],
                    )
                ).alias("g"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,g:string>>"))
    return (
        toks.select(F.col(id_col), F.explode_outer(pg).alias("__pg"))
        .where(F.col("__pg").isNotNull())
        .select(F.col(id_col), F.col("__pg.pos").alias("pos"), F.col("__pg.g").alias("g"))
    )


def _merge_gram_islands(
    starts: DataFrame, id_col: str, width: int
) -> DataFrame:
    """Merge duplicated gram-start positions into maximal spans.

    Gram starts p, q (p < q) cover overlapping-or-adjacent token ranges
    [p, p+width-1], [q, q+width-1] iff q <= p + width, so a new island
    begins exactly when the gap exceeds ``width`` (gaps-and-islands with
    a fixed range width: ``lag`` suffices because every range has the
    same end offset).  Returns (id, span_start, span_end, span_tokens),
    all longs.  Both windows share one partitioning+sort.
    """
    from pyspark.sql import Window

    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w_ord)
    brk = F.when(prev.isNull() | (F.col("pos") > prev + F.lit(width)), 1).otherwise(0)
    w_run = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    isl = starts.select(
        F.col(id_col), F.col("pos"), F.sum(brk).over(w_run).alias("__isl")
    )
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(width - 1)).alias("span_end"),
        )
        .select(
            F.col(id_col),
            F.col("span_start"),
            F.col("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def duplicated_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal token spans made of ``width``-grams occurring >=
    ``min_count`` times corpus-wide (within-doc repetition counts, as in
    the paper's self-similar boilerplate case).  Returns one row per
    (doc, maximal duplicated span): (id, span_start, span_end,
    span_tokens), token positions 1-based inclusive.
    """
    grams = with_token_grams(df, text_col, id_col, width)
    dup_g = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("g")
    )
    starts = grams.join(dup_g, "g").select(F.col(id_col), F.col("pos"))
    return _merge_gram_islands(starts, id_col, width)


def substring_dedup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-token accounting over
    :func:`duplicated_substring_spans`: (id, n_tokens, dup_tokens,
    dup_fraction) for EVERY document (zero-dup docs included) — the
    corpus-health summary a pipeline thresholds on before dropping or
    trimming documents.
    """
    spans = duplicated_substring_spans(df, text_col, id_col, width, min_count)
    per_doc = spans.groupBy(id_col).agg(F.sum("span_tokens").alias("__dt"))
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    dt = F.coalesce(F.col("__dt"), F.lit(0).cast("long"))
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        dt.alias("dup_tokens"),
        (dt.cast("double") / F.col("n_tokens")).alias("dup_fraction"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Drop every duplicated span EXCEPT its corpus-first occurrence —
    the paper's actual dedup action (keep one copy, cut the rest).

    Keeper per gram = the minimum (id, pos) occurrence, computed as a
    ``min(struct)`` INSIDE the same groupBy as the duplicate count — no
    rank window over the gram key, so hot grams stay in the partial-agg
    + AQE-join regime described above.  Non-keeper gram starts merge
    into spans; tokens inside any span are cut with one row-local
    indexed array filter (nested higher-order lambdas, zero extra
    shuffle).  Returns (id, text); an exact-duplicate document collapses
    to the empty string.

    Overlap caveat (alongside the width−1 edge-slack trade): when a
    non-keeper occurrence overlaps the keeper occurrence of the same
    gram INSIDE one document (self-overlapping repetition like
    ``a b a b a`` at width 2), the merged non-keeper island can cut
    tokens the keeper shares, so such content may survive in no copy —
    span-merge semantics shared exactly by the DuckDB oracle and pinned
    by the differential reference in ``tests/test_dedup.py``.
    """
    grams = with_token_grams(df, text_col, id_col, width)
    agg = (
        grams.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__keep"),
        )
        .where(F.col("__c") >= min_count)
    )
    starts = (
        grams.join(agg, "g")
        .where(
            ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("pos") == F.col("__keep.pos"))
            )
        )
        .select(F.col(id_col), F.col("pos"))
    )
    spans = _merge_gram_islands(starts, id_col, width)
    spans_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return toks.join(spans_arr, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("__spans").isNull(), F.concat_ws(" ", F.col("__toks")))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
    )


def minhash_estimate_accuracy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """Sketch-accuracy report: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of equal signature slots) next to the
    EXACT shingle Jaccard and the absolute error — the measurement a
    pipeline owner reads before trusting the sketch's threshold at a new
    operating point (estimate error is the sole source of false
    verdicts once banding recall is accounted for).

    Scale shape: reuses the production machinery verbatim — signatures
    (zero-shuffle array HOFs), candidate pairs (banded posting lists),
    exact Jaccard (inverted index, exact under the posting cap) — plus
    two joins on the pair ids.  Rows are candidate pairs, already
    sub-quadratic by LSH design.  Join safety by plan shape (r12 probe
    finding: the planner once guessed the post-aggregation PAIR-scale
    sides small enough to broadcast — measured collecting >1 GiB to the
    driver at 16× duplication): the pair⋈signature joins are LEFT OUTER
    joins with the pair stream on the left, and Spark builds a left
    outer join only from its right side, so the pair stream is never
    the build side; AQE broadcasts the doc-scale signatures when it
    measures them small at run time.  Every id in a candidate pair has
    a signature (``collect_list`` drops NULL ids and ``sigs`` has one
    row per doc), so the rows are the inner join's.  The exact side
    builds its own size joins from the doc side the same way (LEFT
    joins in :func:`ngram_jaccard_pairs`), and the final est⋈exact join
    hints ``merge`` (both sides pair-scale — nothing is safe to
    hash-build wholesale).
    """
    # r17 measured rejection (verdict item 1) of the r16 shared-signature
    # rewrite (materialize with_minhash_signature once, derive band keys
    # from it): load-matched interleaved A/B (OPTIMIZATION_r17.md item 1) showed it
    # NEVER wins — 0.98x at sf0.1, 1.01x at 16x quadratic-pair
    # duplication, and 0.95x at 16x LINEAR growth (texts perturbed per
    # copy, the regime where the saved per-row md5 chain should dominate;
    # old min 7.58s vs new 8.01s).  The checkpoint materialization +
    # scan-back of |docs| signature rows costs as much as recomputing
    # the chain, at every measured scale — so the straightforward
    # two-computation form is restored.
    sigs = with_minhash_signature(df, text_col, id_col)
    pairs = lsh_candidate_pairs(df, text_col, id_col, max_posting)
    exact = ngram_jaccard_pairs(
        df,
        text_col,
        id_col,
        min_jaccard=0.0,
        max_posting=max_posting,
    ).select("id_a", "id_b", "jaccard")
    n_perms = len(MINHASH_PERMS)
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("__sig").alias("__sa"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("__sig").alias("__sb"))
    est = (
        pairs.join(sig_a, "id_a", "left")
        .join(sig_b, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(n_perms))
            ).alias("est_jaccard"),
        )
    )
    return (
        est.join(exact.hint("merge"), ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round("est_jaccard", 6).alias("est_jaccard"),
            # a candidate pair sharing no shingle (possible only via a
            # degenerate band) has exact jaccard 0
            F.coalesce(F.round("jaccard", 6), F.lit(0.0)).alias("jaccard"),
            F.round(F.abs(F.col("est_jaccard") - F.coalesce("jaccard", F.lit(0.0))), 6).alias("abs_err"),
        )
    )


def set_overlap_matrix(
    df: DataFrame,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Pairwise set-overlap matrix over grouped keys — "which
    crawls/dumps duplicate each other, and how much": for every group
    pair (a < b), the number of distinct keys present in BOTH, each
    side's distinct total, and the Jaccard of the two key sets.  The
    table a pipeline reads before deciding which snapshot to ingest
    first (ingesting the high-overlap one second wastes the dedup pass).
    Keys are whatever granularity the caller projects: content hashes
    (:func:`source_content_overlap`), token grams, winnowing
    fingerprints.

    Scale shape: one (group, key) distinct (shuffle on the pair),
    per-group totals by partial-agg groupBy, and the pair intersection
    via a self-join ON THE KEY — grouped to (a, b) counts.  A key shared
    by k groups expands to k(k−1)/2 pair rows; k is bounded by the
    number of GROUPS (a handful of sources), not the corpus, so the
    join output is |shared keys|·O(groups²) — never corpus-quadratic.
    All three legs partial-aggregate; AQE handles the hot-key class
    (the boilerplate gram every source carries).  The totals join-back
    broadcasts (|totals| = |groups|).

    r17 measured rejection (verdict item 1): the r16 posting-list
    rewrite (``collect_set(src)`` per key + in-row pair expansion,
    SMJ 3→0 / Exchange 52→34 by plan) was settled with load-matched
    interleaved A/B at sf0.1 AND a 16× shared-boilerplate worst-case
    probe (OPTIMIZATION_r17.md item 1): 0.84× at 1× (old min 1.62s vs new 1.93s),
    0.98× at 16× (old 6.34s vs new 6.48s, medians 6.37 vs 6.73) — the
    saved exchanges never beat the collect_set buffering + in-row
    expansion at any measured scale, and the gap does not close with
    size, so the self-join form is restored per the r16 verdict's
    decision rule.
    """
    sd = df.select(
        F.col(group_col).alias("src"), F.col(key_col).alias("key")
    ).distinct()
    totals = sd.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sd.alias("a")
        .join(sd.alias("b"), "key")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))
    tb = totals.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def source_content_overlap(
    df: DataFrame, text_col: str, source_col: str
) -> DataFrame:
    """:func:`set_overlap_matrix` at exact-content granularity (one md5
    key per document) — the whole-document duplication view."""
    return set_overlap_matrix(
        df.select(F.col(source_col), F.md5(F.col(text_col)).alias("__k")),
        source_col,
        "__k",
    )


def keep_best_per_component(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_id_col: str = "doc_id",
    comp_col: str = "component",
    score_col: str = "quality",
) -> DataFrame:
    """Duplicate-cluster canonicalization: per near-dup component keep
    the HIGHEST-scoring member (ties to the lowest id) — the production
    policy after :func:`connected_components`, replacing its min-id
    ``is_canonical`` default with a quality-aware choice (you keep the
    best copy of a duplicated page, not the one with the smallest id).

    ``components`` is (id, component, ...) from
    :func:`connected_components`; ``scores`` is any (doc_id, score)
    table (e.g. ``text.quality_score``).  Returns one row per doc:
    (id, component, score, keep).  ``scores`` is LEFT-joined: a doc
    with no score row still appears (score NULL) and loses to any
    scored sibling; a component whose members are ALL unscored falls
    back to the min-id representative — nothing is silently dropped.
    ``score_col`` must be numeric (it is negated to build the ordering
    key); the doc id may be ANY orderable type (string ids work — the
    tie-break never negates or casts it).

    Scale shape: one equi-join components⋈scores on the doc id, then
    the winner per component via ``min(struct(missing, -score, id))``
    — a partial-aggregating groupBy (no rank window over the component
    key, so hot mega-components stay in the map-side-combine + AQE
    regime), joined back on the component key.
    """
    scored = components.select(F.col(id_col), F.col(comp_col)).join(
        scores.select(
            F.col(score_id_col).alias(id_col), F.col(score_col).alias("__s")
        ),
        id_col,
        "left",
    )
    # min-ordering key: scored beats unscored, then highest score, then
    # lowest id.  -score only negates the (numeric-by-contract) score;
    # the coalesce keeps the struct comparison off NULL fields, and the
    # id rides along un-transformed so string/date ids order correctly.
    order_key = F.struct(
        F.col("__s").isNull().cast("int").alias("__missing"),
        F.coalesce(-F.col("__s"), F.lit(0.0)).alias("__negscore"),
        F.col(id_col).alias("__id"),
    )
    best = scored.groupBy(comp_col).agg(F.min(order_key).alias("__b"))
    return (
        scored.join(best, comp_col)
        .select(
            F.col(id_col),
            F.col(comp_col),
            F.col("__s").alias(score_col),
            (F.col(id_col) == F.col("__b.__id")).alias("keep"),
        )
    )


def gram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
) -> DataFrame:
    """Per-document corpus-first n-gram novelty — the curation signal a
    training pipeline ranks ingest candidates by (a doc whose grams all
    appeared in earlier docs adds nothing; Lee et al. 2022 §5 measure
    exactly this as the residual value of deduplicated data).

    A doc's DISTINCT ``width``-grams split into *novel* (this doc is the
    minimum-``id`` owner corpus-wide — the deterministic "first" under
    the same id-order rule the substring-dedup keeper uses) and *seen*.
    Returns one row per document: (id, n_grams, n_novel, novelty), with
    ``novelty = n_novel / n_grams`` and NULL for docs too short to carry
    a single gram (no signal ≠ zero novelty).

    Scale shape: distinct (id, gram) projection → groupBy(gram) with
    ``min(id)`` (partial map-side combine collapses hot boilerplate
    grams before the exchange, the same regime as
    :func:`duplicated_substring_spans`) → one equi-join back on the
    gram digest (both sides pruned to 2 columns; AQE broadcast/skew
    handles the hot-gram tail) → groupBy(id) count.  No all-pairs
    anywhere; everything partial-aggregates.
    """
    grams = (
        with_token_grams(df, text_col, id_col, width)
        .select(F.col(id_col), F.col("g"))
        .distinct()
    )
    first = grams.groupBy("g").agg(F.min(id_col).alias("__first"))
    per_doc = (
        grams.join(first, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col(id_col) == F.col("__first"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    base = df.select(F.col(id_col))
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        F.when(
            F.col("n_grams").isNotNull(),
            F.round(F.col("n_novel") / F.col("n_grams"), 6),
        ).alias("novelty"),
    )


def _no_shingle_signal(text_col: str) -> "Column":
    """True when a doc has NO shingles (fewer than SHINGLE_WIDTH
    tokens).  Such a doc has an empty minhash input — every one of them
    would hash to the SAME md5('') band keys, so near-dup machinery
    would deterministically (and wrongly) glue all short docs together.
    LSH has no signal below one shingle; short docs participate in the
    EXACT stages only."""
    return F.size(F.split(F.col(text_col), " ")) < SHINGLE_WIDTH


def incremental_dedup_verdicts(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """Verdict for every NEW-batch document against an already-kept
    reference corpus — the snapshot-ingest staple: dedupe tonight's crawl
    against the 100 TB corpus without re-deduping the corpus itself.

    One row per new doc: ``(id, verdict, keep)`` where verdict is the
    FIRST matching of

    - ``exact_ref``   — md5(text) already present in the reference,
    - ``near_ref``    — shares >=1 LSH band key with a reference doc
      (reference buckets larger than ``max_posting`` are ignored, the
      same lost-locality rule as :func:`lsh_candidate_pairs`),
    - ``exact_batch`` — an identical batch doc with a smaller id exists
      (the min-id copy is the keeper),
    - ``near_batch``  — an in-batch LSH candidate pair (a, id) with
      a < id exists (single-pass pruning: the rule is a pure predicate
      on the pair table, NOT iterated through survivorship, so verdicts
      are order- and partitioning-free),
    - ``novel``       — none of the above; ``keep`` is true only here.

    Docs with no shingles (fewer than SHINGLE_WIDTH tokens, on either
    side) are excluded from BOTH near stages — see
    :func:`_no_shingle_signal`; the exact stages still catch identical
    short docs.

    Scale shape: the two near stages share ONE shuffle — new and
    reference band keys union into a single (band, band_key) groupBy
    that collects the new ids and merely COUNTS the reference members,
    so each side's minhash chain evaluates once and the reference is
    never collected or rewritten.  Everything else is a projected
    semi/anti join with the batch as the small side; nothing quadratic
    forms outside the capped in-batch posting lists.  Admitting the
    kept docs is the caller's append.
    """
    ids = new_df.select(F.col(id_col))
    n_digest = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__digest")
    )
    r_digest = ref_df.select(F.md5(F.col(text_col)).alias("__digest")).distinct()
    exact_ref = n_digest.join(r_digest, "__digest", "left_semi").select(id_col)

    signal = ~_no_shingle_signal(text_col)
    n_bands = lsh_band_keys(new_df.where(signal), text_col, id_col).withColumn(
        "__src", F.lit("n")
    )
    r_bands = lsh_band_keys(ref_df.where(signal), text_col, id_col).withColumn(
        "__src", F.lit("r")
    )
    buckets = (
        n_bands.unionByName(r_bands)
        .groupBy("band", "band_key")
        .agg(
            # collect_list skips the nulls the when() leaves on ref rows
            F.collect_list(
                F.when(F.col("__src") == "n", F.col(id_col))
            ).alias("__nids"),
            F.count(F.when(F.col("__src") == "r", F.lit(1))).alias("__rn"),
        )
    )
    # BOTH near verdicts fall out of ONE pass over the buckets (so the
    # union groupBy — and the minhash chains under it — appear exactly
    # once in the physical plan; two separate flag branches would make
    # Catalyst recompute the whole chain per branch):
    #   near_ref   — the bucket holds 1..cap reference members;
    #   near_batch — the bucket holds 2..cap new members and this id is
    #                not the smallest (⟺ a pair (a, id) with a < id
    #                exists — the same single-pass pruning rule, without
    #                ever materializing the quadratic pair list).
    ex = buckets.select(
        F.explode("__nids").alias(id_col),
        ((F.col("__rn") >= 1) & (F.col("__rn") <= max_posting)).alias("__f_nr"),
        (
            (F.size("__nids") >= 2) & (F.size("__nids") <= max_posting)
        ).alias("__b_nb"),
        F.array_min("__nids").alias("__min_nid"),
    )
    near = ex.groupBy(id_col).agg(
        F.max("__f_nr").alias("__nr"),
        F.max(F.col("__b_nb") & (F.col(id_col) != F.col("__min_nid"))).alias(
            "__nb"
        ),
    )

    batch_keep = (
        n_digest.groupBy("__digest")
        .agg(F.min(id_col).alias("__keep_id"))
        .select(F.col("__keep_id").alias(id_col))
    )

    def _flag(src: DataFrame, name: str) -> DataFrame:
        return src.select(F.col(id_col), F.lit(True).alias(name))

    out = (
        ids.join(_flag(exact_ref, "__xr"), id_col, "left")
        .join(near, id_col, "left")
        .join(_flag(batch_keep, "__bk"), id_col, "left")
    )
    verdict = (
        F.when(F.col("__xr"), F.lit("exact_ref"))
        .when(F.col("__nr"), F.lit("near_ref"))
        .when(F.col("__bk").isNull(), F.lit("exact_batch"))
        .when(F.col("__nb"), F.lit("near_batch"))
        .otherwise(F.lit("novel"))
    )
    return out.select(
        F.col(id_col),
        verdict.alias("verdict"),
        (verdict == "novel").alias("keep"),
    )

def ref_dedup_verdicts_wide(
    df: DataFrame,
    ref_df: DataFrame | None,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
    index: "DedupIndex | None" = None,
) -> DataFrame:
    """Reference-only dedup verdicts — the first two stages of
    :func:`incremental_dedup_verdicts` (``exact_ref`` / ``near_ref`` /
    ``novel``) in a STATELESS wide-join shape: the doc's digest and its
    ``MINHASH_BANDS`` band keys become columns, each probed with one
    left join against a distinct reference-side table, so every join is
    1:<=1 — no explode-then-dedup, no aggregation on ``df``'s side.

    That shape is what makes the operator legal as the STREAM side of a
    stream-static join (aggregations and ``dropDuplicates`` on a stream
    need watermark state; these joins need none), and it is exactly
    equivalent on a batch ``df``: a doc is ``exact_ref`` iff its digest
    appears in the reference, ``near_ref`` iff any band key hits a
    reference bucket within ``max_posting``, else ``novel``.  The
    in-batch stages (``exact_batch`` / ``near_batch``) need cross-row
    state by definition and stay with the batch operator.

    Docs with no shingles carry NULL band-key columns (null join keys
    never match) and shingle-less reference docs are excluded from the
    reference key table — the same no-LSH-signal rule as the batch
    operator.  The minhash input is built through the same staged
    projections as :func:`with_shingle_hashes` (materialized token
    array, then hashes, then the 16 minima over the ``__h`` column), so
    the md5 chain runs once per row per micro-batch.

    Pass ``index=`` (a :class:`DedupIndex`, with ``ref_df=None``) to
    probe the persisted projections instead of deriving them from
    ``ref_df`` — for a long-running stream this removes the per-micro-
    batch reference re-scan entirely, which is the difference between
    O(batch) and O(corpus) work per trigger at production scale.
    """
    if (ref_df is None) == (index is None):
        raise ValueError("provide exactly one of ref_df or index")
    toks = df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__digest"),
        F.split(F.col(text_col), " ").alias("__toks"),
    )
    hashes = F.transform(
        shingles_from_tokens(F.col("__toks")),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_P,
    )
    hashed = toks.select(F.col(id_col), F.col("__digest"), hashes.alias("__h"))
    sigd = hashed.select(
        F.col(id_col),
        F.col("__digest"),
        (F.size("__h") > 0).alias("__hasb"),
        _sig_from_hashes_col().alias("__sig"),
    )
    bands = _band_keys_array()
    wide = sigd.select(
        F.col(id_col),
        F.col("__digest"),
        *[
            F.when(F.col("__hasb"), F.element_at(bands, b + 1)).alias(f"__bk{b}")
            for b in range(MINHASH_BANDS)
        ],
    )
    if index is not None:
        spark = df.sparkSession
        r_digest = spark.table(index.digests_table).select(
            F.col("digest").alias("__digest"), F.lit(True).alias("__xr")
        )
        ref_keys = (
            spark.table(index.bands_table)
            .where(F.col("ref_count") <= max_posting)
            .select("band", "band_key")
        )
    else:
        r_digest = (
            ref_df.select(F.md5(F.col(text_col)).alias("__digest"))
            .distinct()
            .withColumn("__xr", F.lit(True))
        )
        ref_keys = (
            lsh_band_keys(
                ref_df.where(~_no_shingle_signal(text_col)), text_col, id_col
            )
            .groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") <= max_posting)
        )
    out = wide.join(r_digest, "__digest", "left")
    for b in range(MINHASH_BANDS):
        rb = ref_keys.where(F.col("band") == b).select(
            F.col("band_key").alias(f"__bk{b}"), F.lit(True).alias(f"__nr{b}")
        )
        out = out.join(rb, f"__bk{b}", "left")
    near = None
    for b in range(MINHASH_BANDS):
        flag = F.col(f"__nr{b}")
        near = flag if near is None else (near | flag)
    verdict = (
        F.when(F.col("__xr"), F.lit("exact_ref"))
        .when(F.coalesce(near, F.lit(False)), F.lit("near_ref"))
        .otherwise(F.lit("novel"))
    )
    return out.select(F.col(id_col), verdict.alias("verdict"))


# ---------------------------------------------------------------------------
# persisted dedup index — the materialized form of the two reference
# projections every incremental-dedup probe needs


@dataclass(frozen=True)
class DedupIndex:
    """Handle for a persisted incremental-dedup index.

    The index is exactly the two reference projections
    :func:`incremental_dedup_verdicts` derives on the fly — nothing
    more:

    - ``digests_table`` — one row per DISTINCT ``md5(text)`` in the
      kept corpus, bucketed+sorted by ``digest``;
    - ``bands_table`` — one row per distinct LSH ``(band, band_key)``
      with the reference member count, bucketed+sorted by ``band_key``.

    Both are plain external parquet tables, so the bytes survive the
    session; the BUCKET SPEC lives in the session catalog, which is why
    :func:`attach_dedup_index` exists — it re-issues the ``CLUSTERED
    BY`` DDL over the existing files so a fresh session (or a real
    metastore-less cluster job) gets shuffle-free probes again.

    ``ref_count`` is stored UNFILTERED: the ``max_posting``
    lost-locality cap is a probe-time predicate, so one index serves
    any cap without a rebuild.
    """

    name: str
    path: str
    n_buckets: int

    @property
    def digests_table(self) -> str:
        return f"{self.name}_digests"

    @property
    def bands_table(self) -> str:
        return f"{self.name}_bands"


def _ref_digest_projection(ref_df: DataFrame, text_col: str) -> DataFrame:
    return ref_df.select(F.md5(F.col(text_col)).alias("digest")).distinct()


def _ref_band_projection(
    ref_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    return (
        lsh_band_keys(ref_df.where(~_no_shingle_signal(text_col)), text_col, id_col)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("ref_count"))
    )


def build_dedup_index(
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    path: str,
    n_buckets: int = 64,
) -> DedupIndex:
    """Materialize the incremental-dedup reference projections as two
    bucketed external parquet tables under ``path``.

    Why this beats re-deriving per batch: the nightly probe against a
    100 TB corpus otherwise pays two full reference scans per batch
    (digest projection + band-key aggregation).  The index pays them
    ONCE; afterwards every probe joins the (tiny) batch against tables
    whose ``HashPartitioning(digest)`` / ``HashPartitioning(band_key)``
    already satisfies the join's required distribution, so the
    reference side is read bucket-pruned and never re-shuffled — only
    the batch side exchanges, and it is the small side by construction.

    The bucket columns are deliberately the SINGLE highest-cardinality
    key of each join (``digest``; ``band_key`` rather than
    ``(band, band_key)``): Spark accepts a bucketed table whose
    partitioning is a subset of the join keys, and a 1-column spec
    keeps the DDL in :func:`attach_dedup_index` portable.

    Size ``n_buckets`` so each bucket holds O(100 MB-1 GB): every bucket
    is at least one parquet file per table, and a bucket count far above
    the data (measured, SCALE.md r10: 64 buckets on a 5k-row corpus)
    spends more bytes on parquet footers than on rows and erases the
    probe win under file-listing overhead.

    Maintenance contract: after admitting a batch's kept docs, the
    index is stale by exactly those docs; rebuild incrementally by
    appending the batch's own projections (union + re-aggregate on the
    band side) on whatever cadence the ingest pipeline already
    compacts — the probe semantics only need the index to cover the
    *kept* corpus as of the last rebuild.
    """
    spark = ref_df.sparkSession
    idx = DedupIndex(name=name, path=path, n_buckets=int(n_buckets))
    _write_index_table(
        _ref_digest_projection(ref_df, text_col), idx.digests_table, path,
        "digest", idx.n_buckets,
    )
    _write_index_table(
        _ref_band_projection(ref_df, text_col, id_col), idx.bands_table, path,
        "band_key", idx.n_buckets,
    )
    _write_index_meta(spark, idx)
    return idx


def _normalize_table_location(loc: str) -> str:
    """Scheme-aware normalization for catalog Location comparisons.

    The catalog reports locations as URIs (``file:/x``, ``file:///x``,
    ``s3://bucket/x``, ``hdfs://nn/x``); callers pass plain paths or
    URIs.  Compare on ``(scheme-or-file, netloc, normalized path)`` so a
    ``file://``-with-authority form or an object-store location never
    gets mangled by prefix-stripping (``os.path.abspath`` on an
    ``s3://...`` string would prepend the cwd).  Only scheme-less local
    paths go through ``abspath``."""
    parsed = urlparse(loc)
    if parsed.scheme in ("", "file"):
        return "file::" + os.path.abspath(parsed.path or loc).rstrip("/")
    return f"{parsed.scheme}:{parsed.netloc}:" + parsed.path.rstrip("/")


def _registered_table_location(spark: SparkSession, table: str) -> str:
    loc = [
        r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r["col_name"] == "Location"
    ]
    return loc[0] if loc else ""


def _write_index_table(
    df: DataFrame, table: str, path: str, bucket_col: str, n_buckets: int
) -> None:
    """Drop-then-write one bucketed external index table (shared by
    build and extend so every write option lives in one place).

    Ownership guard before the DROP: a session may already hold an
    UNRELATED table under this derived name (``<name>_digests`` /
    ``<name>_bands``); dropping it — especially a MANAGED table, whose
    DROP deletes its data files — would destroy someone else's data.
    Mirror :func:`attach_dedup_index`'s same-name collision check: only
    drop when the registered Location is exactly this index's own
    subdirectory; otherwise refuse loudly."""
    spark = df.sparkSession
    expect_loc = os.path.join(path, table)
    if spark.catalog.tableExists(table):
        got = _registered_table_location(spark, table)
        if _normalize_table_location(got) != _normalize_table_location(expect_loc):
            raise ValueError(
                f"build/extend_dedup_index: table {table!r} is already "
                f"registered at {got!r}, not {expect_loc!r} — refusing to "
                f"DROP a table this index does not own (a managed table's "
                f"drop deletes its data); pick a different index name"
            )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    # pre-shuffle INTO the bucket layout: repartition(n, col) is the
    # same HashPartitioning the bucket spec assigns files by, so each
    # task holds exactly one bucket's rows and the write emits ONE file
    # per bucket.  Without this the writer emits |upstream partitions| ×
    # |buckets| files (measured: a 16-bucket ANN index built from a
    # 32-partition corpus scanned 4× SLOWER than the no-index path at
    # 16× corpus — pure file-open overhead, SCALE.md r13 ANN-index probe).
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", expect_loc)
        .saveAsTable(table)
    )


_INDEX_META_DIR = "_dedup_index_meta"


def _write_index_meta(spark: SparkSession, idx: DedupIndex) -> None:
    """Persist the bucket spec NEXT TO the data (a 1-row Spark-written
    JSON dir, so it lands on whatever filesystem the tables use): the
    bucket count is load-bearing for correctness — an attach that
    declares the wrong count makes Spark route join keys to the wrong
    bucket and silently miss duplicates — so it must never depend on
    the caller remembering a number."""
    from ..sources.readers import local_frame

    (
        local_frame(spark, [(idx.name, idx.n_buckets)], "name string, n_buckets int")
        .write.mode("overwrite")
        .json(os.path.join(idx.path, _INDEX_META_DIR))
    )


def _read_index_meta(spark: SparkSession, path: str) -> tuple[str, int]:
    row = spark.read.json(os.path.join(path, _INDEX_META_DIR)).collect()[0]
    return str(row["name"]), int(row["n_buckets"])


def extend_dedup_index(
    index: DedupIndex,
    new_kept_df: DataFrame,
    text_col: str,
    id_col: str,
    name: str,
    path: str,
    n_buckets: int | None = None,
) -> DedupIndex:
    """Fold a batch's ADMITTED documents into the index, producing the
    next index generation under a NEW name/path (blue-green: Spark
    cannot overwrite a table it is reading from, and the old generation
    must stay probe-able until the swap anyway — the caller drops it
    after cutting probes over).

    Cost is O(index + batch), never O(corpus): the old generation is
    read back as its two projections (digests re-distinct-ed, band
    counts summed with the batch's own aggregation), the corpus text is
    never rescanned.  Run on whatever cadence the ingest pipeline
    already compacts; between extends the probe semantics only require
    the index to cover the kept corpus as of the last generation.
    """
    same_path = _normalize_table_location(path) == _normalize_table_location(
        index.path
    )
    if name == index.name or same_path:
        # a shared NAME breaks blue-green even when the path differs (the
        # DROP below would unregister the old generation's catalog
        # entries — the very tables live probes resolve by name — before
        # the new data exists); a shared PATH, in any spelling (trailing
        # slash, relative), would overwrite the old generation's metadata
        # dir
        raise ValueError(
            "extend_dedup_index: the new generation needs a different "
            "name AND path (same-name write would unregister the "
            "generation being read; same-path write would clobber its "
            "metadata)"
        )
    spark = new_kept_df.sparkSession
    nb = index.n_buckets if n_buckets is None else int(n_buckets)
    out = DedupIndex(name=name, path=path, n_buckets=nb)
    digests = (
        spark.table(index.digests_table)
        .unionByName(_ref_digest_projection(new_kept_df, text_col))
        .distinct()
    )
    bands = (
        spark.table(index.bands_table)
        .unionByName(_ref_band_projection(new_kept_df, text_col, id_col))
        .groupBy("band", "band_key")
        .agg(F.sum("ref_count").alias("ref_count"))
    )
    _write_index_table(digests, out.digests_table, path, "digest", nb)
    _write_index_table(bands, out.bands_table, path, "band_key", nb)
    _write_index_meta(spark, out)
    return out


def attach_dedup_index(
    spark: SparkSession, name: str, path: str, n_buckets: int | None = None
) -> DedupIndex:
    """Re-register an existing on-disk index in THIS session's catalog.

    The parquet bytes persist across sessions but the bucket spec lives
    in the catalog, so a fresh session must re-declare it — otherwise
    Spark would read the files as an unbucketed scan and silently
    reintroduce the reference-side shuffle.

    The bucket count comes from the metadata the build wrote next to
    the data — it is load-bearing for CORRECTNESS, not just speed: a
    declared count different from the physical one makes Spark route
    each join key to the wrong bucket and silently verdict true
    duplicates as ``novel``.  Passing ``n_buckets`` explicitly is
    therefore only an assertion: it must MATCH the stored value or the
    attach refuses.  A table of the same name already registered in
    this session must point at this index's location (``CREATE TABLE
    IF NOT EXISTS`` would otherwise silently no-op onto someone else's
    table and probe the wrong corpus).
    """
    meta_name, meta_nb = _read_index_meta(spark, path)
    if meta_name != name:
        raise ValueError(
            f"attach_dedup_index: metadata at {path!r} names index "
            f"{meta_name!r}, not {name!r}"
        )
    if n_buckets is not None and int(n_buckets) != meta_nb:
        raise ValueError(
            f"attach_dedup_index: requested n_buckets={n_buckets} but the "
            f"index was built with {meta_nb} (declared != physical bucket "
            f"count silently breaks probe joins)"
        )
    idx = DedupIndex(name=name, path=path, n_buckets=meta_nb)
    for table, cols, col in (
        (idx.digests_table, "(digest STRING)", "digest"),
        (idx.bands_table, "(band INT, band_key STRING, ref_count BIGINT)", "band_key"),
    ):
        expect_loc = os.path.join(path, table)
        if spark.catalog.tableExists(table):
            got = _registered_table_location(spark, table)
            if _normalize_table_location(got) != _normalize_table_location(
                expect_loc
            ):
                raise ValueError(
                    f"attach_dedup_index: table {table!r} is already "
                    f"registered at {got!r}, not {expect_loc!r} — drop it "
                    f"or attach under a different name"
                )
            continue
        spark.sql(
            f"CREATE TABLE {table} {cols} "
            f"USING parquet CLUSTERED BY ({col}) SORTED BY ({col}) "
            f"INTO {idx.n_buckets} BUCKETS "
            f"LOCATION '{expect_loc}'"
        )
    return idx


def incremental_dedup_verdicts_indexed(
    new_df: DataFrame,
    index: DedupIndex,
    text_col: str,
    id_col: str,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """:func:`incremental_dedup_verdicts` probing a persisted
    :class:`DedupIndex` instead of scanning the reference corpus.

    Verdict-for-verdict equivalent to the scan form (asserted by
    ``tests/test_dedup.py``): the five verdicts and their priority are
    identical; only where the two reference projections COME FROM
    differs.  The equivalence argument per stage:

    - ``exact_ref`` — semi-join against the distinct-digest table is
      the same existence test as the scan form's semi-join.
    - ``near_ref`` — the scan form flags a doc when a shared bucket's
      reference count is in ``[1, max_posting]``; here the stored
      (unfiltered) ``ref_count`` is filtered by the same predicate and
      existence-tested with a semi-join.
    - ``exact_batch`` / ``near_batch`` — involve only batch rows, so
      the batch-only bucket pass reproduces the shared-pass result
      exactly (reference members never entered those stages' logic).

    The scan form's union-groupBy shares the REFERENCE band chain it
    cannot avoid re-deriving; here the reference chain is amortized
    into the index, but the same share-one-pass rule still applies to
    the BATCH side: both near flags read off a single bucket aggregate
    (left-joined with the cap-filtered index buckets), so the batch
    minhash chain appears exactly once in the physical plan, and the
    probe's only wide work is exchanging the BATCH side to meet the
    bucketed tables' layout.
    """
    spark = new_df.sparkSession
    ids = new_df.select(F.col(id_col))
    n_digest = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__digest")
    )
    r_digest = spark.table(index.digests_table).select(
        F.col("digest").alias("__digest")
    )
    exact_ref = n_digest.join(r_digest, "__digest", "left_semi").select(id_col)

    signal = ~_no_shingle_signal(text_col)
    n_bands = lsh_band_keys(new_df.where(signal), text_col, id_col)
    ref_keys = spark.table(index.bands_table).where(
        (F.col("ref_count") >= 1) & (F.col("ref_count") <= max_posting)
    )
    # BOTH near verdicts from ONE pass over the batch's band keys (same
    # reasoning as the scan form's shared union-groupBy: a semi-join
    # branch for near_ref plus a separate groupBy branch for near_batch
    # would make Catalyst evaluate the whole minhash md5 chain once per
    # branch — the exchanges differ, so ReuseExchange never fires):
    # aggregate the batch buckets once, LEFT-join the cap-filtered index
    # buckets onto them, and read both flags off the joined row.
    buckets = n_bands.groupBy("band", "band_key").agg(
        F.collect_list(F.col(id_col)).alias("__nids")
    )
    ex = buckets.join(
        ref_keys.select("band", "band_key", F.lit(True).alias("__hasref")),
        ["band", "band_key"],
        "left",
    ).select(
        F.explode("__nids").alias(id_col),
        F.coalesce("__hasref", F.lit(False)).alias("__f_nr"),
        (
            (F.size("__nids") >= 2) & (F.size("__nids") <= max_posting)
        ).alias("__b_nb"),
        F.array_min("__nids").alias("__min_nid"),
    )
    near = ex.groupBy(id_col).agg(
        F.max("__f_nr").alias("__nr"),
        F.max(F.col("__b_nb") & (F.col(id_col) != F.col("__min_nid"))).alias(
            "__nb"
        ),
    )

    batch_keep = (
        n_digest.groupBy("__digest")
        .agg(F.min(id_col).alias("__keep_id"))
        .select(F.col("__keep_id").alias(id_col))
    )

    def _flag(src: DataFrame, flag: str) -> DataFrame:
        return src.select(F.col(id_col), F.lit(True).alias(flag))

    out = (
        ids.join(_flag(exact_ref, "__xr"), id_col, "left")
        .join(near, id_col, "left")
        .join(_flag(batch_keep, "__bk"), id_col, "left")
    )
    verdict = (
        F.when(F.col("__xr"), F.lit("exact_ref"))
        .when(F.col("__nr"), F.lit("near_ref"))
        .when(F.col("__bk").isNull(), F.lit("exact_batch"))
        .when(F.col("__nb"), F.lit("near_batch"))
        .otherwise(F.lit("novel"))
    )
    return out.select(
        F.col(id_col),
        verdict.alias("verdict"),
        (verdict == "novel").alias("keep"),
    )
