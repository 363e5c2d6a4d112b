"""Query registry part 6 — the §3.3 iterative pathway-expansion lifecycle
(K5) with an unrolled-CTE DuckDB oracle.

The oracle mirrors the loop exactly: round r candidates = frontier ×
transitions matched against the known-structure price grid, deduped per
(root, structure), anti-joined against everything already reached.  The
compared result is the per-round path/structure census (small, robust).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize
from ..sources.readers import local_frame
from .pathway_expand import iterative_expand
from .registry import _spread_scan, _t, TRANSITIONS, TRANSITIONS_SQL_VALUES

ROOT_MOD = 20  # sample 1-in-20 parts as expansion roots
ITERATIONS = 3


def q_pathway_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round census of the K5 expansion: paths and distinct structures
    reached at each round (all rounds 0..ITERATIONS emitted, zero-filled,
    so the unrolled oracle compares exactly even when a round dries up)."""
    part = _t(spark, sf_dir, "part")
    all_structs = part.select(
        F.col("p_partkey").alias("structure_id"), F.col("p_retailprice").alias("mm")
    )
    roots = all_structs.where(F.col("structure_id") % ROOT_MOD == 0)
    trans = local_frame(spark, TRANSITIONS, "transition string, delta double")
    paths = iterative_expand(roots, trans, iterations=ITERATIONS, known=all_structs)
    agg = paths.groupBy("round").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.countDistinct("structure_id").alias("n_structures"),
    )
    rounds = spark.range(ITERATIONS + 1).select(F.col("id").cast("int").alias("round"))
    return rounds.join(agg, "round", "left").select(
        "round",
        F.coalesce("n_paths", F.lit(0)).alias("n_paths"),
        F.coalesce("n_structures", F.lit(0)).alias("n_structures"),
    )


def _pathway_sql() -> str:
    key = "CAST(round(({mm} + t.delta) * 10, 0) AS BIGINT)"
    ctes = [
        "known AS (SELECT CAST(round(p_retailprice * 10, 0) AS BIGINT) AS key, "
        "p_partkey AS pid, p_retailprice AS pmm FROM part)",
        f"trans AS (SELECT * FROM (VALUES {TRANSITIONS_SQL_VALUES}) AS t(transition, delta))",
        f"n0 AS (SELECT p_partkey AS root, p_partkey AS sid, p_retailprice AS mm FROM part "
        f"WHERE p_partkey % {ROOT_MOD} = 0)",
        "reached0 AS (SELECT root, sid FROM n0)",
    ]
    for r in range(1, ITERATIONS + 1):
        prev = f"n{r-1}"
        ctes.append(
            f"c{r} AS (SELECT f.root, k.pid AS sid, k.pmm AS mm FROM {prev} f "
            f"CROSS JOIN trans t JOIN known k ON k.key = {key.format(mm='f.mm')})"
        )
        ctes.append(
            f"n{r} AS (SELECT DISTINCT root, sid, mm FROM c{r} cc WHERE NOT EXISTS "
            f"(SELECT 1 FROM reached{r-1} rr WHERE rr.root = cc.root AND rr.sid = cc.sid))"
        )
        ctes.append(
            f"reached{r} AS (SELECT root, sid FROM reached{r-1} UNION ALL SELECT root, sid FROM n{r})"
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, count(*) AS n_paths, count(DISTINCT sid) AS n_structures FROM n{r}"
        for r in range(0, ITERATIONS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


SQL_PATHWAY_CENSUS = _pathway_sql()


# --------------------------------------------------------------------------
# the §3 enzyme-annotation sub-lifecycle (composed end-to-end)
# --------------------------------------------------------------------------

ENZYME_MIN_TOKEN = 5      # "pfam" tokens = the long words of the doc vocab
ENZYME_REACTION_MOD = 50  # rule docs group into reaction ids
ENZYME_CORR_CUTOFF = 0.05  # Options.corr_cutoff (gizmos.py:646-647)
# Options.corr_p_cutoff (gizmos.py:648-649).  Deliberately the LOOSE
# reference default (non-binding on the testdata): the Spark side
# computes p via the betainc Arrow kernel and the oracle via the
# closed-form series — they agree to ~5e-14, so a BINDING threshold on
# p would let a pair sitting within that band of the cutoff pass on one
# engine and fail on the other (a flaky hash-red on logically identical
# results).  The p COLUMN itself is still value-compared (rounded to 6);
# the k6_corr_pvalue precedent carries the same rounding exposure green.
ENZYME_P_CUTOFF = 0.9
ENZYME_DAY_US = 86_400_000_000


def q_plan_enzyme_annotation(
    spark: SparkSession,
    sf_dir: str,
    checkpoint: bool = True,
) -> DataFrame:
    """The reference's enzyme-annotation chain composed end-to-end
    (``gizmos.load_enzyme_input``, gizmos.py:654-745, plus the
    substrate⊗product coexpression merge, heraldPathways.py:274-281):

    1. gene annotations exploded one-pfam-per-row (gizmos.py:667-672);
    2. pfam-RR rules filtered by the strict/medium/loose boolean flags
       (gizmos.py:689-696, medium = validated OR predicted);
    3. accession→Name via the small pfam dictionary — the reference's
       row-at-a-time ``pfam_dict.Name.loc[k] if k in pfam_dict.index``
       (gizmos.py:698-704) becomes a broadcast hash join that both
       FILTERS unknown accessions and renames;
    4. annotations ⋈ rules on the exploded pfam_rule, key dropped,
       duplicate cleanup (gizmos.py:729-741);
    5. inner merge with the correlation table under BOTH cutoffs
       (gizmos.py:627-652: |corr| >= corr_cutoff AND P <= corr_p_cutoff;
       P from the exact Student-t tail — the same Arrow kernel and
       closed-form DuckDB series the driver-green k6_corr_pvalue pins);
    6. per-reaction transitions joined twice — ms_name renamed to
       ms_substrate / ms_product — then FULL OUTER merged so unilateral
       coexpression evidence survives (heraldPathways.py:274-281).

    Testdata mapping: genes/rules/dictionary = documents partitioned by
    ``source`` (the shared synthetic vocabulary plays the pfam space),
    correlations = day-aligned event matrices (§3.1 machinery).

    Scale shape: the dictionary and the transition/type tables broadcast
    (tiny); the annotation⋈rule join shuffles on the 15-word pfam key —
    skew-prone at 100 TB, which AQE's skew-join handles since every
    other join keys on high-cardinality (gene, reaction) pairs.  The
    ONE non-SQL step is the Arrow-batched p-value kernel
    (``corr_pvalues`` — the same sanctioned kernel k6_corr_pvalue
    carries); the correlation leg otherwise reuses
    correlate_long_matrices (one shuffle on the day key, one on the
    pair key).

    ``checkpoint=False`` (tests only) skips the branch-point
    localCheckpoint so plan-shape assertions can see the full upstream
    lineage the checkpoint otherwise hides.
    """
    from pyspark.sql import Window

    from ..operators.aggregates import correlate_long_matrices
    from ..streaming.events import ts_event_micros_sql

    # NOTE (r16): _spread_scan on these two scans was measured 5.3s vs
    # 3.1s min — the explode/day-bucket work before the first natural
    # exchange is too light to pay for round-robin-shuffling full text
    # rows; the single-partition scans stay as-is here.
    docs = _t(spark, sf_dir, "documents")
    events = _t(spark, sf_dir, "events")
    tok_ok = F.length("tok") >= ENZYME_MIN_TOKEN

    # 1. gene annotations: one pfam Name per row
    ann = (
        docs.where(F.col("source").isin("src1", "src2"))
        .select(
            F.col("doc_id").alias("gene"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .where(tok_ok)
        .select("gene", F.upper("tok").alias("pfam_rule"))
        .distinct()
    )

    # 3. accession dictionary (acc → Name) — small, broadcast
    pfam_dict = (
        docs.where(F.col("source") == "src6")
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(tok_ok)
        .distinct()
        .select(F.col("tok").alias("acc"), F.upper("tok").alias("pfam_rule"))
    )

    # 2. pfam-RR rules under the medium flag filter, acc→Name, dedup
    rules = (
        docs.where(F.col("source").isin("src3", "src4", "src5"))
        .where((F.col("n_chars") % 2 == 0) | (F.col("n_chars") % 3 == 0))
        .select(
            (F.col("doc_id") % ENZYME_REACTION_MOD).alias("reaction_id"),
            F.col("doc_id").alias("uniprot_id"),
            F.explode(F.split(F.col("text"), " ")).alias("acc"),
        )
        .where(F.length("acc") >= ENZYME_MIN_TOKEN)
        .join(F.broadcast(pfam_dict), "acc")
        .select("reaction_id", "uniprot_id", "pfam_rule")
        .distinct()
    )

    # 4. integrate annotations and rules on pfam_rule; drop key; dedup
    merged = ann.join(rules, "pfam_rule").drop("pfam_rule").distinct()

    # 5. correlation table (day-aligned event matrices) + corr cutoff
    day = F.expr(f"{ts_event_micros_sql(events)} div {ENZYME_DAY_US}")
    m1 = events.groupBy(
        "event_type", day.alias("day")
    ).agg(F.avg("value").alias("v"))
    m2 = events.groupBy(
        "user_id", day.alias("day")
    ).agg(F.avg("value").alias("g"))
    corr = correlate_long_matrices(
        m1, m2, sample_col="day", left_key="event_type", right_key="user_id",
        left_val="v", right_val="g", min_n=5,
    )
    from ..operators.aggregates import corr_pvalues

    # The cutoff binds on round(r, 6) — the SAME expression both engines
    # emit as the output column — so a pair within ulps of the raw
    # boundary (Spark's sum-formula r vs DuckDB's corr() accumulate
    # differently) cannot pass on one engine and fail on the other
    # unless the rounded OUTPUT already differs (which the hash compare
    # flags regardless).  round(r,6) < 0.999999 still keeps 1-r² well
    # away from 0 for the t statistic.
    corr = corr.where(
        (F.abs(F.round(F.col("r"), 6)) >= ENZYME_CORR_CUTOFF)
        & (F.abs(F.round(F.col("r"), 6)) < 0.999999)
    )
    # p binds on round(p, 6) — the output expression — for the same
    # boundary-stability reason as the r cutoff above (the two engines
    # compute p by different formulas: betainc vs the closed-form
    # series, divergence ~5e-14; the 0.9 default is deliberately loose
    # but the rounding removes the ulp-boundary flake class entirely)
    corr = (
        corr_pvalues(corr)
        .where(F.round(F.col("p"), 6) <= ENZYME_P_CUTOFF)
        .select(
            F.col("lk").alias("ms_name"),
            F.col("rk").alias("gene"),
            F.round("r", 6).alias("correlation"),
            F.round("p", 6).alias("p_value"),
        )
    )
    # the reference drop_duplicates()s after the corr merge
    # (gizmos.py:741-744) because ITS merges can duplicate; here both
    # sides are unique on the join key structure (merged is distinct on
    # (gene, reaction_id, uniprot_id); corr has one row per
    # (ms_name, gene)), so the join output is already duplicate-free —
    # an extra distinct() would only add a shuffle.
    #
    # `enzyme` fans out to the substrate AND product branches of the
    # coexpression merge: checkpoint the branch point (the
    # data_pipeline pattern) so EVERYTHING upstream — the doc-scan
    # explode/dict/merge chain AND the corr leg with its one Arrow
    # p-value kernel — runs once, not once per branch (measured:
    # checkpointing only `corr` re-runs the merged chain per branch and
    # is strictly worse at every scale).
    enzyme = merged.join(corr, "gene")
    if checkpoint:
        enzyme = enzyme.repartition(
            spark.sparkContext.defaultParallelism, F.col("gene")
        )
        enzyme = materialize(enzyme)

    # 6. per-reaction transitions; substrate/product renames; outer merge
    types = (
        events.select("event_type").distinct()
        .withColumn(
            "ti", F.row_number().over(Window.orderBy("event_type")) - 1
        )
    )
    reactions = rules.select("reaction_id").distinct()
    rt = (
        reactions
        .join(
            F.broadcast(types.select(F.col("ti").alias("ti_s"), F.col("event_type").alias("ms_substrate"))),
            F.pmod(F.col("reaction_id"), F.lit(5)) == F.col("ti_s"),
        )
        .join(
            F.broadcast(types.select(F.col("ti").alias("ti_p"), F.col("event_type").alias("ms_product"))),
            F.pmod(F.col("reaction_id") + 2, F.lit(5)) == F.col("ti_p"),
        )
        # reactions is distinct and each ti matches exactly one type row,
        # so rt is already unique — no distinct shuffle needed
        .select("reaction_id", "ms_substrate", "ms_product")
    )
    subs = rt.join(
        enzyme.select(
            "reaction_id", "gene", "uniprot_id",
            F.col("ms_name").alias("ms_substrate"),
            F.col("correlation").alias("correlation_substrate"),
            F.col("p_value").alias("p_substrate"),
        ),
        ["reaction_id", "ms_substrate"],
    )
    prod = rt.join(
        enzyme.select(
            "reaction_id", "gene", "uniprot_id",
            F.col("ms_name").alias("ms_product"),
            F.col("correlation").alias("correlation_product"),
            F.col("p_value").alias("p_product"),
        ),
        ["reaction_id", "ms_product"],
    )
    keys = ["reaction_id", "ms_substrate", "ms_product", "gene", "uniprot_id"]
    return subs.join(prod, keys, "full_outer").select(
        *keys,
        "correlation_substrate", "p_substrate",
        "correlation_product", "p_product",
    )


SQL_PLAN_ENZYME = f"""
WITH ann AS (
  SELECT DISTINCT doc_id AS gene, upper(tok) AS pfam_rule FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE source IN ('src1', 'src2'))
  WHERE length(tok) >= {ENZYME_MIN_TOKEN}
), pfdict AS (
  SELECT DISTINCT tok AS acc, upper(tok) AS pfam_rule FROM (
    SELECT unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE source = 'src6')
  WHERE length(tok) >= {ENZYME_MIN_TOKEN}
), rules AS (
  SELECT DISTINCT doc_id % {ENZYME_REACTION_MOD} AS reaction_id,
         doc_id AS uniprot_id, d.pfam_rule
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS acc
    FROM documents
    WHERE source IN ('src3', 'src4', 'src5')
      AND (n_chars % 2 = 0 OR n_chars % 3 = 0)
  ) r JOIN pfdict d ON r.acc = d.acc
  WHERE length(r.acc) >= {ENZYME_MIN_TOKEN}
), merged AS (
  SELECT DISTINCT a.gene, r.reaction_id, r.uniprot_id
  FROM ann a JOIN rules r ON a.pfam_rule = r.pfam_rule
), m1 AS (
  SELECT event_type, epoch_us(ts) // {ENZYME_DAY_US} AS day, avg(value) AS v
  FROM events GROUP BY 1, 2
), m2 AS (
  SELECT user_id, epoch_us(ts) // {ENZYME_DAY_US} AS day, avg(value) AS g
  FROM events GROUP BY 1, 2
), corrs AS (
  SELECT event_type AS ms_name, user_id AS gene, count(*) AS n, corr(v, g) AS r
  FROM m1 JOIN m2 USING (day) GROUP BY 1, 2
), corr_b AS (
  -- exact Student-t tail via the finite closed forms for integer df —
  -- the same independent route the driver-green k6_corr_pvalue pins
  SELECT ms_name, gene, n, r, n - 2 AS nu,
         abs(r) * sqrt((n - 2) / (1 - r * r)) AS t
  FROM corrs
  WHERE n >= 5 AND r IS NOT NULL
    -- boundary-stable cutoff: bind on round(r,6), the same expression
    -- as the output column (see the Spark side's comment)
    AND abs(round(r, 6)) >= {ENZYME_CORR_CUTOFF!r}
    AND abs(round(r, 6)) < 0.999999
), corr_tx AS (
  SELECT *, nu / (nu + t * t) AS x,
         CASE WHEN nu % 2 = 0 THEN nu // 2 - 1 ELSE (nu - 3) // 2 END AS jmax
  FROM corr_b
), corr_js AS (
  SELECT ms_name, gene, nu, x, unnest(range(0, CAST(jmax AS BIGINT) + 1)) AS j
  FROM corr_tx
), corr_terms AS (
  SELECT ms_name, gene,
    CASE WHEN nu % 2 = 0
      THEN exp(lgamma(2 * j + 1.0) - 2 * lgamma(j + 1.0) - j * ln(4.0)) * pow(x, j)
      ELSE exp(j * ln(4.0) + 2 * lgamma(j + 1.0) - lgamma(2 * j + 2.0)) * pow(x, j)
    END AS term
  FROM corr_js
), corr_s AS (
  SELECT ms_name, gene, sum(term) AS ssum FROM corr_terms GROUP BY 1, 2
), corr_p AS (
  SELECT b.ms_name, b.gene, b.r,
    CASE WHEN b.nu % 2 = 0
      THEN 1 - b.t / sqrt(b.nu + b.t * b.t) * s.ssum
      ELSE 1 - 2 / pi() * (atan(b.t / sqrt(b.nu))
                           + b.t * sqrt(b.nu) / (b.nu + b.t * b.t) * s.ssum)
    END AS p_raw
  FROM corr_tx b JOIN corr_s s USING (ms_name, gene)
), corr_f AS (
  -- boundary-stable p cutoff: bind on round(p,6), the output expression
  SELECT ms_name, gene, round(r, 6) AS correlation, round(p_raw, 6) AS p_value
  FROM corr_p WHERE round(p_raw, 6) <= {ENZYME_P_CUTOFF!r}
), enzyme AS (
  SELECT DISTINCT m.gene, m.reaction_id, m.uniprot_id, c.ms_name,
         c.correlation, c.p_value
  FROM merged m JOIN corr_f c ON m.gene = c.gene
), types AS (
  SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS ti
  FROM (SELECT DISTINCT event_type FROM events)
), rt AS (
  SELECT DISTINCT r.reaction_id, ts_s.event_type AS ms_substrate,
         ts_p.event_type AS ms_product
  FROM (SELECT DISTINCT reaction_id FROM rules) r
  JOIN types ts_s ON ts_s.ti = r.reaction_id % 5
  JOIN types ts_p ON ts_p.ti = (r.reaction_id + 2) % 5
), subs AS (
  SELECT rt.reaction_id, rt.ms_substrate, rt.ms_product, e.gene, e.uniprot_id,
         e.correlation AS correlation_substrate, e.p_value AS p_substrate
  FROM rt JOIN enzyme e
    ON e.reaction_id = rt.reaction_id AND e.ms_name = rt.ms_substrate
), prod AS (
  SELECT rt.reaction_id, rt.ms_substrate, rt.ms_product, e.gene, e.uniprot_id,
         e.correlation AS correlation_product, e.p_value AS p_product
  FROM rt JOIN enzyme e
    ON e.reaction_id = rt.reaction_id AND e.ms_name = rt.ms_product
)
SELECT coalesce(s.reaction_id, p.reaction_id) AS reaction_id,
       coalesce(s.ms_substrate, p.ms_substrate) AS ms_substrate,
       coalesce(s.ms_product, p.ms_product) AS ms_product,
       coalesce(s.gene, p.gene) AS gene,
       coalesce(s.uniprot_id, p.uniprot_id) AS uniprot_id,
       s.correlation_substrate, s.p_substrate,
       p.correlation_product, p.p_product
FROM subs s FULL OUTER JOIN prod p
  ON s.reaction_id = p.reaction_id AND s.ms_substrate = p.ms_substrate
 AND s.ms_product = p.ms_product AND s.gene = p.gene AND s.uniprot_id = p.uniprot_id
"""


QUERIES_PATHWAY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "plan_pathway_expand": q_pathway_census,
    "plan_enzyme_annotation": q_plan_enzyme_annotation,
}

ORACLES_PATHWAY: dict[str, str] = {
    "plan_pathway_expand": SQL_PATHWAY_CENSUS,
    "plan_enzyme_annotation": SQL_PLAN_ENZYME,
}
