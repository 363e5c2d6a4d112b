"""Containment mapping — the relational shell of the reference's
base-rule map construction (SURVEY §2 K3/K4, ``mapBaseRetroRules.py``).

The reference builds, for every reaction SMARTS, the ``;``-lists of rules
it is contained in (``smarts_is_in``) and rules it contains
(``smarts_has``) by pairwise RDKit substructure matching, pre-filtered by
monoisotopic mass (``mapBaseRetroRules.py:203-205`` — a pattern can only
be a substructure of something at least as heavy).

Spark-first restatement over token/shingle sets:

- candidate pairs come from an inverted-index join (only pairs sharing an
  element exist — never |rules|²),
- the mass pre-filter becomes a size ordering (|A| ≤ |B|),
- "substructure" is set containment above a threshold
  (|A∩B| / |A| ≥ τ; τ=1.0 is exact containment),
- the ``;``-list map columns are canonical sorted ``set_encode`` strings
  (deterministic, SURVEY §7).

The chemistry kernel (RDKit ``HasSubstructMatch``) would drop in as a
verification pandas_udf over exactly these candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .constants import MAX_POSTING, SHINGLE_WIDTH
from .dedup import shingles_from_tokens

# Rule maps up to this many rules are collected and looped on the driver.
RULE_BFS_COLLECT_THRESHOLD = 500_000


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_containment: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """(inner_id, outer_id, containment): directed pairs where the smaller
    set is ≥ ``min_containment`` covered by the larger (ties on size break
    by id so each unordered pair appears once).

    Shingle postings above ``max_posting`` are dropped (same stop-shingle
    guard as the dedup operators — bounds the in-row pair expansion that
    one hot key would otherwise blow up at corpus scale; the DuckDB oracle
    carries the identical bound).  Set sizes are counted over the same
    filtered feature space as the intersections, so ``containment`` is
    EXACT over the surviving shingles."""
    from .dedup import _pairs_from_ids

    arr = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).select(F.col(id_col), shingles_from_tokens(F.col("__toks"), width).alias("__sh"))
    e = arr.select(F.col(id_col), F.explode_outer("__sh").alias("s"))

    # one posting aggregation feeds both sizes and pair expansion (see
    # ngram_jaccard_pairs); direction is decided afterwards from the sizes
    posts = materialize(
        e.where(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.collect_list(id_col).alias("__ids"))
        .where(F.size("__ids") <= max_posting),
        eager=True,
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
    pairs = inter.join(sa, "id_a").join(sb, "id_b")
    # size pre-filter (the mass analog): the smaller set is the inner side;
    # equal sizes keep the (id_a < id_b) orientation the expansion produced
    inner_is_a = F.col("sz_a") <= F.col("sz_b")
    return (
        pairs.select(
            F.when(inner_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("inner_id"),
            F.when(inner_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("outer_id"),
            F.round(
                F.col("inter") / F.when(inner_is_a, F.col("sz_a")).otherwise(F.col("sz_b")), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def containment_map(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_containment: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_posting: int = MAX_POSTING,
) -> DataFrame:
    """Per-id rule-map row (the reference's ``rule_map`` output shape,
    FIXTURES §14): canonical ``;``-lists of containers (``is_in``) and
    containees (``has``)."""
    pairs = containment_pairs(df, text_col, id_col, min_containment, width, max_posting)
    is_in = pairs.groupBy(F.col("inner_id").alias(id_col)).agg(
        F.array_join(F.array_sort(F.collect_set(F.col("outer_id").cast("string"))), ";").alias(
            "is_in"
        )
    )
    has = pairs.groupBy(F.col("outer_id").alias(id_col)).agg(
        F.array_join(F.array_sort(F.collect_set(F.col("inner_id").cast("string"))), ";").alias(
            "has"
        )
    )
    base = df.select(F.col(id_col))
    return (
        base.join(is_in, id_col, "left")
        .join(has, id_col, "left")
        .select(
            id_col,
            F.coalesce("is_in", F.lit("")).alias("is_in"),
            F.coalesce("has", F.lit("")).alias("has"),
        )
    )


def structural_substructure_verify(
    pairs: DataFrame,
    inner_col: str = "inner_smarts",
    outer_col: str = "outer_smarts",
    out_col: str = "is_substruct",
) -> DataFrame:
    """K3 verification step over candidate pairs: the structural
    SMARTS-subset substructure check (``smarts_engine.has_substructure``
    — the reference's ``HasSubstructMatch``, mapBaseRetroRules.py:37-53)
    as an Arrow-batched ``mapInPandas`` over exactly the candidate-pair
    columns where an RDKit kernel would drop in.  Adds ``out_col``
    boolean; all other columns pass through."""
    import pandas as pd

    from .smarts_engine import has_substructure

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema.fields)
    schema = f"{fields}, {out_col} boolean"

    def run(batches):
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = [
                has_substructure(o, i)
                for i, o in zip(pdf[inner_col], pdf[outer_col])
            ]
            yield out

    return pairs.mapInPandas(run, schema=schema)


def rule_bfs(
    map_df: DataFrame,
    id_col: str = "rule_id",
    base_col: str = "is_base",
    passes_col: str = "passes",
    is_in_col: str = "is_in",
    has_col: str = "has",
    max_rounds: int = 10,
) -> DataFrame:
    """K4: prerequisite-gated level-wise rule BFS (the reference's
    ``get_next_rules`` / ``filter_df_with_map`` loop,
    ``integrative_omics/gizmos.py:339-400``).

    ``map_df`` carries per rule: ``is_base`` (round-0 seed,
    gizmos.py:382), ``passes`` (the precomputed deterministic test
    outcome — the reference runs the expensive RDKit test lazily per
    round, but which rules *get* tested is identical either way),
    ``is_in`` (array of rules this one is contained in — the unlock
    edges, gizmos.py:351-355) and ``has`` (array of prerequisite rules
    that must ALL have passed before this one may be tested,
    gizmos.py:357-361).

    Faithful dynamics per round: candidates = union of ``is_in`` over ALL
    passed rules so far (not just the last frontier — a rule whose
    prerequisites complete late still surfaces, gizmos.py:345-349), minus
    already-tested, minus prerequisite-unmet (those may return in later
    rounds, gizmos.py:364-366); tested rules never re-test.

    Two physical strategies, identical output: rule maps that fit the
    driver (``<= RULE_BFS_COLLECT_THRESHOLD`` rules — the reference's own
    regime, its map_df is a pandas frame) collect once and loop over
    sets, collapsing ~5 joins × rounds of full-stage scheduling into one
    job; larger maps run the distributed loop of hash joins, carrying
    one state table ``(rule_id, round, passed)`` that is materialized
    once per round (bounded lineage, no collect).

    Returns (rule_id, round, passed) for every rule that got tested.
    """
    # map construction computes ONCE: the count is the job that stores it
    m = materialize(
        map_df.select(
            F.col(id_col),
            F.col(base_col).alias("__base"),
            F.col(passes_col).alias("__ok"),
            F.col(is_in_col).alias("__is_in"),
            F.col(has_col).alias("__has"),
        )
    )
    if m.count() <= RULE_BFS_COLLECT_THRESHOLD:
        rows = m.collect()
        ok = {r[0]: bool(r[2]) for r in rows}
        base = [r[0] for r in rows if r[1]]
        is_in = {r[0]: list(r[3] or []) for r in rows}
        has = {r[0]: list(r[4] or []) for r in rows}
        spark = map_df.sparkSession
        out_rows = [(rid, 0, ok[rid]) for rid in sorted(base)]
        tested = set(base)
        passed_all = {rid for rid in base if ok[rid]}
        for rnd in range(1, max_rounds + 1):
            cands: set = set()
            for rid in passed_all:
                cands.update(is_in.get(rid, []))
            cands = {c for c in cands if c in ok and c not in tested}
            to_test = sorted(
                c for c in cands if all(p in passed_all for p in has.get(c, []))
            )
            if not to_test:
                break
            out_rows.extend((c, rnd, ok[c]) for c in to_test)
            tested.update(to_test)
            passed_all.update(c for c in to_test if ok[c])
        return spark.createDataFrame(
            out_rows, f"{id_col} string, round int, passed boolean"
        )
    # tested = every rule in the state; passed_all = its passed rows
    state = m.where(F.col("__base")).select(
        id_col, F.lit(0).alias("round"), F.col("__ok").alias("passed")
    )
    for rnd in range(1, max_rounds + 1):
        passed_all = state.where(F.col("passed")).select(id_col)
        cand_ids = (
            m.join(passed_all, id_col, "semi")
            .select(F.explode("__is_in").alias(id_col))
            .distinct()
        )
        cand = m.join(cand_ids, id_col, "semi").join(state, id_col, "left_anti")
        unmet = (
            cand.select(F.col(id_col), F.explode_outer("__has").alias("__pr"))
            .where(F.col("__pr").isNotNull())
            .join(
                passed_all.select(F.col(id_col).alias("__pr")), "__pr", "left_anti"
            )
            .select(id_col)
            .distinct()
        )
        to_test = cand.join(unmet, id_col, "left_anti")
        state = materialize(
            state.unionByName(
                to_test.select(id_col, F.lit(rnd).alias("round"), F.col("__ok").alias("passed"))
            )
        )
        if state.where(F.col("round") == rnd).count() == 0:
            break
    return state
